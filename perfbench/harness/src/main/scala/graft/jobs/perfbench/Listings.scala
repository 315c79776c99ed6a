package graft.jobs.perfbench

import java.util.SplittableRandom

import graft.ingest.Sitemap

/** Seeded synthetic immoweb listings: the classified JSON, the page HTML
  * around it, and the weekly sitemap that advertises them.
  *
  * Every value is a pure function of (seed, slot), so the fetcher can rebuild
  * any page inside a Spark task without shipping a corpus, and the benchmark
  * can derive the expected link states from the same functions.
  *
  * Weeks slide a window over listing slots: week `w` advertises slots
  * `[w * churn, w * churn + active)`, so each week `churn` listings disappear
  * (become inactive) and `churn` new ones appear (pending, then scraped).
  */
final case class Listing(
    slot: Long, classifiedId: Long, kind: String, subtype: String,
    locality: String, postalCode: String, street: String, number: String,
    latitude: Double, longitude: Double, bedrooms: Int, livingArea: Double,
    landSurface: Option[Double], hasGarden: Boolean, gardenSurface: Option[Double],
    hasTerrace: Boolean, terraceSurface: Option[Double], fireplace: Boolean,
    pool: Boolean, kitchen: Option[String], facades: Option[Int],
    condition: Option[String], constructionYear: Option[Int],
    epcScore: Option[String], kwh: Option[Double], price: Double) {

  /** The reference scraper rejects a page whose EPC score and kWh are both
    * missing (ScrapeParse.isValidScrape); those slots end as link `error`. */
  def valid: Boolean = epcScore.nonEmpty || kwh.nonEmpty

  def url: String =
    s"https://www.immoweb.be/en/classified/${kind.toLowerCase}/for-sale/" +
      s"${locality.toLowerCase.replace(' ', '-')}/$postalCode/$classifiedId"
}

object Listings {
  /** (locality, postal code, latitude, longitude, price level). */
  private val Places: Array[(String, String, Double, Double, Double)] = Array(
    ("Brussels", "1000", 50.8503, 4.3517, 1.35), ("Antwerp", "2000", 51.2194, 4.4025, 1.20),
    ("Ghent", "9000", 51.0543, 3.7174, 1.20), ("Leuven", "3000", 50.8798, 4.7005, 1.30),
    ("Bruges", "8000", 51.2093, 3.2247, 1.15), ("Liege", "4000", 50.6326, 5.5797, 0.85),
    ("Namur", "5000", 50.4674, 4.8720, 0.90), ("Mons", "7000", 50.4542, 3.9523, 0.75),
    ("Hasselt", "3500", 50.9307, 5.3325, 1.00), ("Mechelen", "2800", 51.0259, 4.4776, 1.10),
    ("Kortrijk", "8500", 50.8279, 3.2649, 0.95), ("Aalst", "9300", 50.9378, 4.0410, 0.95),
    ("Charleroi", "6000", 50.4108, 4.4446, 0.70), ("Ostend", "8400", 51.2254, 2.9196, 1.05),
    ("Genk", "3600", 50.9650, 5.5008, 0.90), ("Wavre", "1300", 50.7172, 4.6018, 1.25),
    ("Arlon", "6700", 49.6833, 5.8167, 0.95), ("Tournai", "7500", 50.6056, 3.3878, 0.80),
    ("Turnhout", "2300", 51.3227, 4.9447, 1.00), ("Sint-Niklaas", "9100", 51.1650, 4.1437, 1.00))
  private val Streets = Array("Kerkstraat", "Stationsstraat", "Rue de la Gare",
    "Dorpstraat", "Molenstraat", "Rue du Moulin", "Schoolstraat", "Nieuwstraat",
    "Rue de l'Eglise", "Veldstraat", "Kapelstraat", "Avenue Louise")
  private val HouseSubtypes = Array("HOUSE", "HOUSE", "HOUSE", "VILLA", "TOWN_HOUSE",
    "BUNGALOW", "FARMHOUSE", "MANSION", "CHALET")
  private val FlatSubtypes = Array("APARTMENT", "APARTMENT", "DUPLEX", "PENTHOUSE",
    "FLAT_STUDIO", "GROUND_FLOOR")
  private val Kitchens = Array("INSTALLED", "HYPER_EQUIPPED", "SEMI_EQUIPPED",
    "NOT_INSTALLED", "USA_HYPER_EQUIPPED")
  /** (condition, price factor). */
  private val Conditions = Array(("GOOD", 1.0), ("AS_NEW", 1.12), ("TO_RENOVATE", 0.82),
    ("JUST_RENOVATED", 1.08), ("TO_BE_DONE_UP", 0.9), ("TO_RESTORE", 0.7))
  private val EpcScores = Array("A+", "A", "B", "C", "D", "E", "F", "G")

  private def mix(seed: Long, slot: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + slot * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A bijection slot -> 8-digit classified id (the same for every seed, so
    * a store built from one seed and a week generated from another agree). */
  def classifiedId(slot: Long): Long = {
    val span = 89999989L // prime, so the multiplier is coprime to it
    10000000L + java.lang.Math.floorMod(48271L * (slot % span) + 12345L, span)
  }

  def listing(seed: Long, slot: Long): Listing = {
    val r = new SplittableRandom(mix(seed, slot))
    def chance(p: Double) = r.nextDouble() < p
    def opt[T](pMissing: Double)(v: => T): Option[T] = if (chance(pMissing)) None else Some(v)
    val house = chance(0.72)
    val subtype =
      if (house) HouseSubtypes(r.nextInt(HouseSubtypes.length))
      else FlatSubtypes(r.nextInt(FlatSubtypes.length))
    val (locality, postal, lat0, lon0, level) = Places(r.nextInt(Places.length))
    val bedrooms = 1 + r.nextInt(if (house) 6 else 4)
    val living = math.round((35 + 28 * bedrooms + r.nextDouble() * 60) *
      (if (house) 1.25 else 0.9)).toDouble
    val land = if (house) Some(math.round(120 + r.nextDouble() * 1400).toDouble) else None
    val garden = house && chance(0.7)
    val gardenSurface = if (garden) opt(0.2)(math.round(20 + r.nextDouble() * 500).toDouble) else None
    val terrace = chance(0.6)
    val terraceSurface = if (terrace) opt(0.3)(math.round(6 + r.nextDouble() * 40).toDouble) else None
    val (condition, condFactor) = Conditions(r.nextInt(Conditions.length))
    val year = 1890 + r.nextInt(134)
    val invalid = chance(0.05)
    val epc = if (invalid) None else opt(0.25)(EpcScores(r.nextInt(EpcScores.length)))
    val kwh0 = math.round(40 + r.nextDouble() * 560).toDouble
    val kwh = if (invalid) None else if (epc.isEmpty) Some(kwh0) else opt(0.2)(kwh0)
    val noise = math.exp(0.12 * r.nextGaussian())
    val price = math.round(level * condFactor * noise *
      (45000 + 2100 * living + 14000 * bedrooms + 55 * land.getOrElse(0.0) +
        (if (r.nextBoolean()) 9000 else 0)) / 1000) * 1000.0
    Listing(slot, classifiedId(slot), if (house) "HOUSE" else "APARTMENT", subtype,
      locality, postal, Streets(r.nextInt(Streets.length)), (1 + r.nextInt(220)).toString,
      lat0 + (r.nextDouble() - 0.5) * 0.08, lon0 + (r.nextDouble() - 0.5) * 0.12,
      bedrooms, living, land, garden, gardenSurface, terrace, terraceSurface,
      chance(0.15), chance(0.04), opt(0.15)(Kitchens(r.nextInt(Kitchens.length))),
      opt(0.2)(if (house) 2 + r.nextInt(3) else 1 + r.nextInt(2)),
      opt(0.1)(condition), opt(0.3)(year), epc, kwh, price)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def js[T](o: Option[T]): String = o match {
    case None => "null"
    case Some(s: String) => q(s)
    case Some(v) => v.toString
  }

  /** The `window.classified` object as the site embeds it. */
  def classifiedJson(l: Listing): String =
    s"""{"id":${l.classifiedId},"cluster":null,"customers":[{"id":${l.slot % 977},"type":"AGENCY"}],""" +
      s""""property":{"type":${q(l.kind)},"subtype":${q(l.subtype)},"title":"",""" +
      s""""bedroomCount":${l.bedrooms},"netHabitableSurface":${l.livingArea},""" +
      s""""fireplaceExists":${l.fireplace},"hasSwimmingPool":${l.pool},""" +
      s""""hasTerrace":${l.hasTerrace},"terraceSurface":${js(l.terraceSurface)},""" +
      s""""hasGarden":${l.hasGarden},"gardenSurface":${js(l.gardenSurface)},""" +
      s""""location":{"country":"Belgium","locality":${q(l.locality)},""" +
      s""""postalCode":${q(l.postalCode)},"street":${q(l.street)},"number":${q(l.number)},""" +
      s""""latitude":${l.latitude},"longitude":${l.longitude}},""" +
      s""""kitchen":{"type":${js(l.kitchen)}},""" +
      s""""building":{"facadeCount":${js(l.facades)},"condition":${js(l.condition)},""" +
      s""""constructionYear":${js(l.constructionYear)}},""" +
      s""""land":{"surface":${js(l.landSurface)}}},""" +
      s""""transaction":{"type":"FOR_SALE","sale":{"price":${l.price},"isSubjectToVat":false},""" +
      s""""certificates":{"epcScore":${js(l.epcScore)},""" +
      s""""primaryEnergyConsumptionPerSqm":${js(l.kwh)}}}}"""

  /** A listing page: head, boilerplate, the embedded JSON, trailing scripts. */
  def html(l: Listing): String = {
    val sb = new java.lang.StringBuilder(4096)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">")
      .append("<title>").append(l.subtype).append(" for sale in ").append(l.locality)
      .append(" - Immoweb</title><link rel=\"stylesheet\" href=\"/assets/app.css\">")
      .append("<script>window.dataLayer = window.dataLayer || [];</script></head><body>")
    var i = 0
    while (i < 12) {
      sb.append("<div class=\"classified__section\"><h2>Section ").append(i)
        .append("</h2><p>Lorem ipsum dolor sit amet, consectetur adipiscing elit, ")
        .append("sed do eiusmod tempor incididunt ut labore.</p></div>")
      i += 1
    }
    sb.append("<script type=\"text/javascript\">\n  window.classified = ")
      .append(classifiedJson(l)).append(";\n</script>")
      .append("<script>window.user = {\"loggedIn\":false};</script>")
      .append("<footer>&copy; Immoweb</footer></body></html>")
    sb.toString
  }

  /** The page of a slot that the sitemap does not list: an empty shell. */
  val notFound: String = "<html><body><h1>404</h1></body></html>"
}

/** Weekly sitemap layout: which slots week `w` advertises, up to the measured
  * week. Listings that first appear in the measured week are generated from
  * `seed`; all earlier ones, which the store already holds, from `baseSeed`. */
final case class Weeks(active: Long, churn: Long, measured: Int, baseSeed: Long, seed: Long) {
  def first(week: Int): Long = week * churn

  def listing(slot: Long): Listing =
    Listings.listing(if (slot >= first(measured) + active - churn) seed else baseSeed, slot)

  def slots(week: Int): Iterator[Long] = Iterator.range(first(week), first(week) + active)

  /** The slots of `week` that sub-sitemap `k` of `n` lists (slot mod n == k). */
  def slots(week: Int, k: Int, n: Int): Iterator[Long] = {
    val lo = first(week)
    Iterator.range(lo + java.lang.Math.floorMod(k - lo, n.toLong), lo + active, n.toLong)
  }
}

object Weeks {
  /** Scrape time of a week: the same instant for every run of it. */
  def timestamp(week: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 6, 3, 6, 0).plusWeeks(week))
  val SubSitemaps = 20
  def subUrl(k: Int) = s"https://assets.immoweb.be/sitemap/classifieds-$k.xml"
}

/** In-process deterministic fetcher for one week: the sitemap index, its
  * sub-sitemaps and every listing page are synthesized from the seed. Pages
  * of listings the week does not advertise answer with a 404 shell.
  */
final class WeekFetcher(weeks: Weeks, week: Int) extends Sitemap.Fetcher {
  private val IdRe = "/(\\d+)$".r.unanchored

  def indexXml: String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?><sitemapindex>")
    (0 until Weeks.SubSitemaps).foreach(k =>
      sb.append("<sitemap><loc>").append(Weeks.subUrl(k)).append("</loc></sitemap>"))
    sb.append("<sitemap><loc>https://assets.immoweb.be/sitemap/agencies-0.xml</loc></sitemap>")
    sb.append("</sitemapindex>").toString
  }

  private def subXml(k: Int): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset>")
    weeks.slots(week, k, Weeks.SubSitemaps).foreach { s =>
        val l = weeks.listing(s)
        sb.append("<url><loc>").append(l.url.replace("/en/", "/nl/")).append("</loc>")
          .append("<xhtml:link rel=\"alternate\" hreflang=\"en-BE\" href=\"")
          .append(l.url).append("\"/></url>")
        // rentals share the sitemap and must be filtered out by the scraper
        if (s % 9 == 0) sb.append("<url><xhtml:link rel=\"alternate\" hreflang=\"en-BE\" ")
          .append("href=\"https://www.immoweb.be/en/classified/house/for-rent/x/1000/")
          .append(l.classifiedId + 1).append("\"/></url>")
      }
    sb.append("</urlset>").toString
  }

  def fetch(url: String): String =
    if (url.endsWith(".xml")) {
      val k = (0 until Weeks.SubSitemaps).find(k => url == Weeks.subUrl(k))
      k.map(subXml).getOrElse("<urlset></urlset>")
    } else url match {
      case IdRe(id) => pageFor(id.toLong)
      case _ => Listings.notFound
    }

  // the slot of an id is found by scanning the week's window; pages are
  // fetched once per run, so a per-fetcher index is built lazily per task
  @transient private lazy val slotById: java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    weeks.slots(week).foreach(s => m.put(Listings.classifiedId(s), s))
    m
  }

  private def pageFor(id: Long): String = {
    val s = slotById.get(id)
    if (s == null) Listings.notFound else Listings.html(weeks.listing(s))
  }
}
