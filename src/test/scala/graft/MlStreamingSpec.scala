package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ml.Models
import graft.streaming.EventStreams

class MlStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def linearData = {
    // y = 3*x1 - 2*x2 + 0.5*x3 + tiny deterministic noise
    val rows = Seq.tabulate(400) { i =>
      val x1 = (i % 23).toDouble
      val x2 = (i % 7).toDouble
      val x3 = (i % 13).toDouble
      val noise = ((i * 2654435761L) % 100) / 1000.0
      (x1, x2, x3, (i % 5).toDouble, 3 * x1 - 2 * x2 + 0.5 * x3 + noise)
    }
    rows.toDF("x1", "x2", "x3", "irrelevant", "y")
  }

  test("M1: correlation feature selection keeps informative features") {
    val feats = Models.selectFeaturesByCorrelation(linearData, "y", 0.10)
    assert(feats.contains("x1") && feats.contains("x2"))
    assert(!feats.contains("y"))
  }

  test("M1: a constant candidate column fails the gate instead of throwing") {
    // corr of a zero-variance column divides by zero, which ANSI mode raises
    // as DIVIDE_BY_ZERO; "pairOnly" is constant only on the rows where the
    // target is non-null, the rows corr reads
    val withConst = linearData.withColumn("const", lit(7.0))
      .withColumn("pairOnly", when($"x1" === 0, 1.0).otherwise(2.0))
      .withColumn("y", when($"x1" === 0, lit(null)).otherwise($"y"))
    val base = linearData.withColumn("y", when($"x1" === 0, lit(null)).otherwise($"y"))
    val feats = Models.selectFeaturesByCorrelation(withConst, "y", 0.10)
    assert(feats == Models.selectFeaturesByCorrelation(base, "y", 0.10))
    assert(feats.contains("x1") && !feats.contains("const") && !feats.contains("pairOnly"))
    assert(Models.selectFeaturesByCorrelation(withConst.select("const", "y"), "y") == Nil)
  }

  test("M2-M8: model selection picks a model with near-perfect fit on linear data") {
    // small folds/grid for test speed; the API defaults mirror the reference
    val (winner, all) = Models.selectBestModel(
      linearData, Seq("x1", "x2", "x3"), "y", numFolds = 3, nIter = 2,
      parallelism = 2)
    assert(all.size == 5, "model zoo should have 5 families")
    assert(winner.testR2 > 0.99, s"winner R2 = ${winner.testR2}")
    assert(winner.name.contains("linear") || winner.name == "ridge" ||
      winner.name == "lasso" || winner.name == "gbt" || winner.name == "random_forest")
    // leaderboard shape
    val lb = Models.leaderboard(spark, all)
    assert(lb.columns.toSeq == Seq("model", "cv_rmse", "test_rmse", "test_r2"))
    assert(lb.count() == 5)
    // M8: the winner is REFIT on the full dataset (project.py:302-310) — its
    // scaler was fit on all rows, so its mean is the full-data mean, not the
    // 80%-split mean the leaderboard models saw
    val scaler = winner.model.stages(1)
      .asInstanceOf[org.apache.spark.ml.feature.StandardScalerModel]
    val fullMean = linearData.agg(avg("x1")).head().getDouble(0)
    assert(math.abs(scaler.mean(0) - fullMean) < 1e-9,
      s"winner scaler mean ${scaler.mean(0)} != full-data mean $fullMean — not refit")
    val trainScaler = all.find(_.name == winner.name).get.model.stages(1)
      .asInstanceOf[org.apache.spark.ml.feature.StandardScalerModel]
    assert(math.abs(trainScaler.mean(0) - fullMean) > 1e-9,
      "train-split scaler coincides with full mean; refit check is vacuous")
  }

  test("q64 leaderboard metrics are pinned on the sf0.01 fixture — a model " +
      "regression fails here, not as rows-only") {
    // the q64 driver query is rows-only by nature (no SQL oracle for model
    // fitting), so THIS is its metric gate: the CV/test metrics of the exact
    // q64 path are deterministic given Spark's seeded CV split over the
    // fixed fixture (limit() reads files in a stable order) — pin them.
    // Tolerance 1e-4 relative: JVM/BLAS noise is ulp-level, while any real
    // regression (scaling bug, wrong grid, broken refit) moves RMSE by
    // orders of magnitude more.
    val df = Tables.lineitem(spark, sf01).limit(2000)
      .select(col("l_quantity").as("x1"), col("l_discount").as("x2"),
        col("l_tax").as("x3"), col("l_extendedprice").as("y"))
    val feats = Models.selectFeaturesByCorrelation(df, "y", 0.01) match {
      case Nil => Seq("x1", "x2", "x3")
      case f => f
    }
    val (winner, all) = Models.selectBestModel(df, feats, "y",
      numFolds = 2, nIter = 2, parallelism = 2,
      zoo = Models.modelZoo("y").take(3))
    assert(winner.name == "lasso", s"winner drifted: ${winner.name}")
    val expected = Map( // measured round 4 (2026-08-13), local[4]
      "linear_regression" -> (29879.361143288, 29825.113843002, -0.006158675),
      "ridge" -> (29879.318625659, 29825.073326360, -0.006155941),
      "lasso" -> (29878.171217992, 29824.421497579, -0.006111962))
    all.foreach { r =>
      val (cv, test, r2) = expected(r.name)
      assert(math.abs(r.cvRmse - cv) / cv < 1e-4,
        s"${r.name} cvRmse ${r.cvRmse} drifted from $cv")
      assert(math.abs(r.testRmse - test) / test < 1e-4,
        s"${r.name} testRmse ${r.testRmse} drifted from $test")
      assert(math.abs(r.testR2 - r2) < 1e-4,
        s"${r.name} testR2 ${r.testR2} drifted from $r2")
    }
  }

  test("M8: samplePredictions reports prediction vs actual with difference") {
    val df = linearData
    val m = Models.pipelineFor(Seq("x1", "x2", "x3"), "y",
      new org.apache.spark.ml.regression.LinearRegression()
        .setLabelCol("y").setFeaturesCol("features")).fit(df)
    val sample = Models.samplePredictions(m, df, "y", n = 5)
    assert(sample.count() == 5)
    assert(sample.columns.contains("prediction") && sample.columns.contains("difference"))
    assert(!sample.columns.contains("features") && !sample.columns.contains("features_raw"))
    val r = sample.select($"prediction" - $"y" - $"difference").as[Double].collect()
    assert(r.forall(v => math.abs(v) < 1e-9))
  }

  test("S11: best model persists and reloads (PipelineModel.save/load)") {
    val df = linearData
    val m = Models.pipelineFor(Seq("x1", "x2"), "y",
      new org.apache.spark.ml.regression.LinearRegression()
        .setLabelCol("y").setFeaturesCol("features")).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("model").toString + "/m"
    m.write.overwrite().save(dir)
    val back = org.apache.spark.ml.PipelineModel.load(dir)
    val a = m.transform(df).select("prediction").as[Double].collect()
    val b = back.transform(df).select("prediction").as[Double].collect()
    assert(a.sameElements(b))
  }

  test("M7: random search subsamples the grid deterministically") {
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(gbt.maxDepth, Array(1, 2, 3, 4, 5, 6))
      .addGrid(gbt.maxIter, Array(10, 20)).build()
    val a = Models.randomSearchGrid(grid, 5, seed = 42)
    val b = Models.randomSearchGrid(grid, 5, seed = 42)
    assert(a.length == 5 && a.toSeq == b.toSeq)
  }

  test("streaming: tumbling window over MemoryStream matches batch twin") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.tumblingStats(sdf, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      mem.addData((t(1), "click", 1.0), (t(2), "click", 2.0), (t(11), "view", 5.0))
      q.processAllAvailable()
      val got = spark.table("tumbling_test")
        .select("event_type", "cnt", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming: sessionize (flatMapGroupsWithState) emits closed sessions") {
    implicit val sql = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 0${m / 60}:${m % 60}%02d:00")
    val mem = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      // user 1: events at 0,5 then a 30-min gap then 40 → first session closes
      mem.addData(
        EventStreams.Event(1, t(0), 1, "click", 1.0),
        EventStreams.Event(2, t(5), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Event(3, t(40), 1, "view", 3.0))
      q.processAllAvailable()
      val got = spark.table("sessions_test")
        .as[EventStreams.Session].collect()
      assert(got.length == 1)
      assert(got.head.n_events == 2 && got.head.total_value == 3.0)
    } finally q.stop()
  }

  test("streaming: stream-static broadcast join enriches events with a dim") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dim = Seq(("click", 1.0), ("view", 0.5)).toDF("event_type", "weight")
    val joined = mem.toDF().toDF("event_id", "event_type")
      .join(broadcast(dim), Seq("event_type"), "left")
    val q = joined.writeStream.format("memory").queryName("dimjoin_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click"), (2L, "view"), (3L, "signup"))
      q.processAllAvailable()
      val got = spark.table("dimjoin_test")
        .select("event_id", "weight").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
      assert(got == Map(1L -> 1.0, 2L -> 0.5, 3L -> -1.0))
    } finally q.stop()
  }

  test("streaming: saved-tokenizer encode over MemoryStream == batch encode " +
      "(BPE merges + Unigram vocab as stream-static driver state)") {
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, sf001)
    // the q127/q292 fixtures and the q298/q299 build-once discipline:
    // learn ONCE on the batch corpus, persist the tiny ordered artifact,
    // then encode any later batch OR stream from the loaded table — the
    // encode projection is pure (codegen Column chain, no window, no
    // shuffle), so it is streaming-legal as-is; this pins the last
    // batch/stream asymmetry in the text family closed
    val artDir = java.nio.file.Files
      .createTempDirectory("tok_stream").toString
    graft.text.Bpe.saveMerges(spark,
      graft.text.Bpe.learnMerges(docs, col("text"), 8), s"$artDir/merges")
    graft.text.Unigram.save(spark,
      graft.text.Unigram.learn(docs, col("text"), maxPieceLen = 4,
        seedSize = 200, vocabSize = 48, rounds = 2, maxWordLen = 16),
      s"$artDir/vocab")
    val merges = graft.text.Bpe.loadMerges(spark, s"$artDir/merges")
    val vocab = graft.text.Unigram.load(spark, s"$artDir/vocab")
    def project(df: org.apache.spark.sql.DataFrame) = {
      val bpe = graft.text.Bpe.encode(df, col("text"), merges)
      graft.text.Unigram.encode(bpe, col("text"), vocab,
          maxPieceLen = 4, maxWordLen = 16)
        .select(col("doc_id"),
          md5(concat_ws("|", col("bpe_tokens"))).as("bpe_md5"),
          col("n_bpe_tokens"),
          md5(concat_ws("|", col("unigram_tokens"))).as("uni_md5"),
          col("n_unigram_tokens"))
    }
    val batchIn = docs.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val want = project(batchIn)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getString(3), r.getInt(4))).toMap
    assert(want.nonEmpty, "fixture must encode something")
    val rows = batchIn.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = project(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("tok_stream_test")
      .outputMode("append").start()
    try {
      // two micro-batches: parity must hold across batch boundaries
      mem.addData(rows.take(rows.size / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.size / 2): _*)
      q.processAllAvailable()
      val got = spark.table("tok_stream_test")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getInt(2), r.getString(3), r.getInt(4))).toMap
      assert(got == want,
        s"stream encode diverged from batch on ${
          (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))}")
    } finally q.stop()
  }

  test("streaming: saved hierarchical-quantizer assignment over " +
      "MemoryStream == batch assignment (stream-static: driver supers + " +
      "child-array equi join)") {
    implicit val sql = spark.sqlContext
    val pts = Seq(0L -> 0.0, 1L -> 0.0, 2L -> 5.0, 3L -> 10.0,
        4L -> 5.2, 5L -> 9.1, 6L -> 0.4, 7L -> 7.7)
      .toDF("vec_id", "x")
      .select($"vec_id", array($"x").as("embedding"))
    val dir = java.nio.file.Files
      .createTempDirectory("hierq_stream").toString
    graft.sim.Similarity.saveHierQuantizer(
      pts, "vec_id", "embedding", k = 4, dir)
    // the incoming stream includes vectors the quantizer never saw
    val rows = Seq(0L -> 0.0, 4L -> 5.2, 100L -> 4.8, 101L -> 9.9)
    val want = graft.sim.Similarity.hierAssignSaved(spark, dir,
        rows.toDF("vec_id", "x")
          .select($"vec_id", array($"x").as("embedding")),
        "vec_id", "embedding")
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val mem = MemoryStream[(Long, Double)]
    val assigned = graft.sim.Similarity.hierAssignSaved(spark, dir,
      mem.toDF().toDF("vec_id", "x")
        .select($"vec_id", array($"x").as("embedding")),
      "vec_id", "embedding").select("id", "cell")
    val q = assigned.writeStream.format("memory")
      .queryName("hierq_stream_test").outputMode("append").start()
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("hierq_stream_test")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"stream assign $got != batch $want")
    } finally q.stop()
  }

  test("streaming: saved-IVF-index top-k probe over MemoryStream == batch " +
      "probe (stream-static: broadcast centroids + cell-pruned parquet), " +
      "idempotent under replayed batches") {
    implicit val sql = spark.sqlContext
    // the q65/q143 fixture: deterministic Lloyd index over the sf0.001
    // embeddings, built and SAVED once — the stream only loads + probes
    val e = Tables.embeddings(spark, sf001)
    val base = java.nio.file.Files.createTempDirectory("annstream").toString
    graft.sim.Similarity.saveIvfIndex(
      graft.sim.Similarity.buildIvfIndexLloyd(e, "vec_id", "embedding",
        nLists = 8, iters = 2), s"$base/idx")
    val queries = e.filter($"vec_id" < 10)
    val want = graft.sim.Similarity.queryIvfIndex(
        graft.sim.Similarity.loadIvfIndex(spark, s"$base/idx"),
        queries, "vec_id", "embedding", k = 3, nProbe = 3)
      .select("qid", "rank", "cid", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(want.nonEmpty, "fixture must produce hits")
    val rows = queries
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.AnnStreams.probeSavedIvf(spark, s"$base/idx",
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 3, nProbe = 3, s"$base/out", s"$base/ckpt")
    try {
      // parity must hold across micro-batch boundaries
      mem.addData(rows.take(rows.size / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.size / 2): _*)
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/out")
        .select("qid", "rank", "cid", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(got == want, s"stream probe diverged from batch: " +
        s"missing ${want -- got}, extra ${got -- want}")
      // replaying the SAME rows (a crash-recovery delivery) converges:
      // upsert keyed (qid, rank) — no duplicate hits
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      val replayed = spark.read.parquet(s"$base/out")
        .select("qid", "rank", "cid", "sim")
        .as[(Long, Int, Long, Double)].collect()
      assert(replayed.length == want.size && replayed.toSet == want,
        s"replay must converge, not duplicate: ${replayed.length} rows")
    } finally q.stop()
  }

  test("streaming: dropDuplicatesWithinWatermark dedups event ids across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val deduped = EventStreams.dedupEvents(mem.toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(
        EventStreams.Event(1, t(1), 1, "click", 1.0),
        EventStreams.Event(1, t(1), 1, "click", 1.0), // same batch dup
        EventStreams.Event(2, t(2), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Event(1, t(3), 1, "click", 1.0)) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("streaming curation: gopher filter + PII redact + content dedup compose on a stream") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // quality rules and redaction are pure projections (streaming-legal as
    // Append ops); content dedup rides dropDuplicatesWithinWatermark
    val good = ("the quick brown foxes jumped over and beyond sleeping dogs " * 3).trim
    val flagged = graft.text.Curation.gopherRuleFlags(
      mem.toDF().toDF("doc_id", "ts", "text"), col("text"), minWords = 20)
      .filter(col("keep"))
      .withColumn("clean", graft.text.Curation.redactPii(col("text")))
      .withColumn("h", md5(col("clean")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("h"))
    val q = flagged.select("doc_id", "clean").writeStream.format("memory")
      .queryName("curation_stream_test").outputMode("append").start()
    try {
      mem.addData(
        (1L, t(1), good + " mail me at a.b@example.com"),
        (2L, t(1), "too short"),                    // fails gopher word count
        (3L, t(2), good))
      q.processAllAvailable()
      mem.addData((4L, t(3), good))                 // cross-batch content dup of 3
      q.processAllAvailable()
      val rows = spark.table("curation_stream_test")
        .select("doc_id", "clean").as[(Long, String)].collect().toMap
      assert(rows.keySet == Set(1L, 3L), s"got ${rows.keySet}")
      assert(rows(1L).contains("<EMAIL>") && !rows(1L).contains("example.com"))
    } finally q.stop()
  }

  test("streaming: stream-stream interval join emits only in-window pairs") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[EventStreams.Event]
    val views = MemoryStream[EventStreams.Event]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val joined = EventStreams.clickViewJoin(clicks.toDF(), views.toDF())
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      clicks.addData(EventStreams.Event(10, t(0), 1, "click", 1.0))
      views.addData(
        EventStreams.Event(20, t(5), 1, "view", 2.0),   // within 10 min
        EventStreams.Event(21, t(25), 1, "view", 2.0),  // outside
        EventStreams.Event(22, t(5), 2, "view", 2.0))   // other user
      q.processAllAvailable()
      val got = spark.table("ssjoin_test").select("c_id", "v_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 20L)), s"got $got")
    } finally q.stop()
  }

  test("streaming: foreachBatch upsert sink is idempotent under batch replay") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.writeUpsertStream(mem.toDF(), s"$base/events", s"$base/ckpt")
    try {
      mem.addData(
        EventStreams.Event(1, t(1), 1, "click", 1.0),
        EventStreams.Event(2, t(2), 1, "view", 2.0))
      q.processAllAvailable()
      // overlapping key in a later batch: existing row wins, no duplicate
      mem.addData(
        EventStreams.Event(2, t(9), 9, "click", 9.0),
        EventStreams.Event(3, t(3), 2, "view", 3.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/events")
      assert(got.count() == 3)
      val e2 = got.filter($"event_id" === 2).as[EventStreams.Event].head()
      assert(e2.user_id == 1 && e2.value == 2.0, "replayed key overwrote the original")
    } finally q.stop()
  }

  test("streaming: file stream over events dir with AvailableNow terminates and matches batch") {
    val batch = Tables.events(spark, sf001)
    // stage the normalized events as a parquet dir (the raw testdata carries
    // ns timestamps which the streaming reader can't take via schema)
    val dir = java.nio.file.Files.createTempDirectory("ev").toString + "/events"
    batch.write.parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val q = stream.writeStream.format("memory").queryName("filestream_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("filestream_test").as[(String, Long)].collect().toMap
    val want = batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
  }

  test("streaming: restart from checkpoint resumes dedup state — no loss, no dup") {
    import graft.streaming.EventStreams
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (srcDir, ckptDir, outDir) = (s"$base/src", s"$base/ckpt", s"$base/out")
    val batch = Tables.events(spark, sf001).limit(0)
    def mkEvents(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, java.sql.Timestamp.valueOf(s"2024-01-01 00:0${i % 10}:00"),
          i % 7, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select(batch.columns.map(col): _*)
    def runOnce(): Unit = {
      val q = EventStreams.dedupEvents(
          EventStreams.readEventStream(spark, srcDir, batch.schema))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // awaitTermination returns false on timeout — fail HERE, not at the
      // output assert with a confusing missing-ids message
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    mkEvents(0L to 9L).write.parquet(srcDir)        // first run: ids 0-9
    runOnce()
    mkEvents(5L to 14L).write.mode("append").parquet(srcDir) // overlap 5-9
    runOnce()                                        // restart, same checkpoint
    val got = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    // state recovered across the restart: the overlapping ids must NOT
    // re-emit, the new ids must all arrive exactly once
    assert(got.toSeq == (0L to 14L))
  }

  test("streaming: batch sessionization twin agrees on session boundaries") {
    val ev = Tables.events(spark, sf001)
    val sessions = EventStreams.sessionizeBatch(ev, gapMs = 10 * 60 * 1000L)
    // invariants: every session non-empty, start <= end, no user overlap gaps < gapMs
    assert(sessions.filter($"n_events" < 1).count() == 0)
    assert(sessions.filter($"session_start" > $"session_end").count() == 0)
    val total = sessions.agg(sum("n_events")).head().getLong(0)
    assert(total == ev.count())
  }
  test("streaming SLO monitor: closed hourly windows upsert into the " +
      "hourly store and the burn report matches the batch twin") {
    implicit val sql = spark.sqlContext
    import graft.streaming.SloStreams
    val base = java.nio.file.Files.createTempDirectory("slo").toString
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, Boolean)]
    val hourly = SloStreams.hourlyCounts(
      mem.toDF().toDF("ts", "is_err"), "ts", col("is_err"))
    val q = SloStreams.burnSink(hourly, s"$base/hourly", s"$base/report",
      s"$base/ckpt", budget = 0.25)
    val rows =
      (0 until 4).map(i => (t(0, i), i < 2)) ++
      (0 until 4).map(i => (t(1, i), false))
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // watermark pusher at 04:00 closes hours 0 and 1 (stays open itself)
      mem.addData((t(4, 0), false))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/report")
        .as[(Long, Long, Long, Double, Double, Boolean)]
        .collect().toSeq.sortBy(_._1)
      assert(got.size == 2)
      assert(got(1)._1 == got(0)._1 + 1, "consecutive hour keys")
      assert(got.map(r => (r._2, r._3, r._4, r._5, r._6)) == Seq(
        (4L, 2L, 2.0, 1.0, false),   // hour-0 blip, long window calm
        (4L, 0L, 0.0, 1.0, false)))
      // batch twin over the same closed-hour events must agree exactly
      val twin = graft.ops.EventAnalytics.sloBurnRate(
          rows.toDF("ts", "is_err"), col("ts"), col("is_err"), budget = 0.25)
        .as[(Long, Long, Long, Double, Double, Boolean)].collect().toSeq
      assert(twin.sortBy(_._1) == got)
    } finally q.stop()
  }

  test("streaming SLO monitor: replaying the same hourly batch converges " +
      "(one row per window key, report unchanged)") {
    import graft.streaming.SloStreams
    val base = java.nio.file.Files.createTempDirectory("slo2").toString
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 4L, 2L),
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 4L, 0L))
      .toDF("w", "total", "errors")
    SloStreams.applyBatch(batch, s"$base/hourly", s"$base/report", 0.25)
    val once = spark.read.parquet(s"$base/report").collect().toSet
    SloStreams.applyBatch(batch, s"$base/hourly", s"$base/report", 0.25)
    assert(spark.read.parquet(s"$base/hourly").count() == 2,
      "replay must not duplicate hourly rows")
    assert(spark.read.parquet(s"$base/report").collect().toSet == once)
  }

  test("streaming SLO monitor: restart from checkpoint over overlapping " +
      "input re-alerts exactly once — no double count, no lost hour") {
    import graft.streaming.SloStreams
    val base = java.nio.file.Files.createTempDirectory("slo3").toString
    val (srcDir, ckptDir) = (s"$base/src", s"$base/ckpt")
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def write(rows: Seq[(java.sql.Timestamp, Boolean)]): Unit =
      rows.toDF("ts", "is_err").write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("ts timestamp, is_err boolean").parquet(srcDir)
      val q = SloStreams.burnSink(
        SloStreams.hourlyCounts(src, "ts", col("is_err")),
        s"$base/hourly", s"$base/report", ckptDir, budget = 0.25)
      try q.processAllAvailable() finally q.stop()
    }
    // hour 0: 2/4 errors (short burn 2.0); hour 1: 3/4 (short burn 3.0);
    // their 6-hour block: 5/8 -> long burn 2.5 -> BOTH hours alert.
    // The 04:00 pusher advances the watermark past hours 0-1.
    write((0 until 4).map(i => (t(0, i), i < 2)) ++
      (0 until 4).map(i => (t(1, i), i < 3)) :+ ((t(4, 0), false)))
    runOnce()
    val firstReport = spark.read.parquet(s"$base/report")
      .as[(Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    // hour keys are absolute epoch hours; anchor on the earliest
    val h0 = firstReport.map(_._1).min
    assert(firstReport.filter(_._6).map(_._1).sorted == Seq(h0, h0 + 1),
      s"first run must alert exactly hours 0 and 1: $firstReport")
    // restart from the SAME checkpoint over OVERLAPPING input: new files
    // replay hour-0 events (late beyond the recovered watermark — they
    // must NOT re-open or overwrite the closed hour) plus a 09:00 pusher
    // that closes the 04:00 pusher's own hour
    write((0 until 2).map(i => (t(0, 30 + i), true)) :+ ((t(9, 0), false)))
    runOnce()
    val hourly = spark.read.parquet(s"$base/hourly")
      .select((unix_micros(col("w")) / lit(3600000000L)).cast("long"),
        col("total"), col("errors"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(hourly.map(_._1) == hourly.map(_._1).distinct,
      s"hourly store holds duplicate hour rows: $hourly")
    // hour 0 still exactly (4, 2): the replayed late rows neither doubled
    // the counts nor replaced them with the late fragment
    assert(hourly.take(2) == Seq((h0, 4L, 2L), (h0 + 1, 4L, 3L)),
      s"restart corrupted closed hours: $hourly")
    val report = spark.read.parquet(s"$base/report")
      .as[(Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    val alerts = report.filter(_._6).map(_._1)
    assert(alerts.sorted == Seq(h0, h0 + 1) && alerts.size == 2,
      s"restart must re-alert hours 0-1 exactly once: $report")
  }

  test("streaming drift monitor: closed windows score PSI against the frozen " +
      "reference and upsert by window key") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DriftStreams
    val base = java.nio.file.Files.createTempDirectory("psidrift").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 0${m / 60}:${m % 60}%02d:00")
    val mem = MemoryStream[EventStreams.Event]
    val hist = DriftStreams.windowedHistogram(
      mem.toDF(), "ts", col("event_type"), "10 minutes", "10 minutes")
    // frozen reference: training saw clicks and views in equal shares
    val ref = Seq(("click", 0.5), ("view", 0.5)).toDF("bucket", "q")
    val q = DriftStreams.psiSink(hist, ref, s"$base/out", s"$base/ckpt")
    try {
      // window [0,10): 2 click + 2 view (matches ref); window [10,20): all
      // clicks (drifted)
      mem.addData(
        EventStreams.Event(1, t(1), 1, "click", 1.0),
        EventStreams.Event(2, t(2), 1, "view", 1.0),
        EventStreams.Event(3, t(3), 2, "click", 1.0),
        EventStreams.Event(4, t(4), 2, "view", 1.0),
        EventStreams.Event(5, t(11), 1, "click", 1.0),
        EventStreams.Event(6, t(12), 2, "click", 1.0))
      q.processAllAvailable()
      // watermark pusher: closes both windows (its own window stays open)
      mem.addData(EventStreams.Event(7, t(40), 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/out")
        .select(col("w").cast("string"), col("n_events"), col("psi"))
        .as[(String, Long, Double)].collect()
        .map { case (w, n, p) => w -> ((n, p)) }.toMap
      assert(got.contains("2024-01-01 00:00:00") && got.contains("2024-01-01 00:10:00"),
        s"closed windows missing from sink: ${got.keySet}")
      // in-distribution window: PSI exactly 0
      assert(got("2024-01-01 00:00:00") == ((4L, 0.0)))
      // drifted window (all clicks): the vanished 'view' bucket contributes
      // its full (eps - q)ln(eps/q) term — PSI far above the 0.2 alert line
      val (n2, psi2) = got("2024-01-01 00:10:00")
      assert(n2 == 2L && psi2 > 1.0, s"drifted window psi=$psi2")
    } finally q.stop()
  }

  test("streaming drift monitor: watermark replay of the same window " +
      "converges (upsert by key, no duplicate rows)") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DriftStreams
    val base = java.nio.file.Files.createTempDirectory("psidrift2").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ref = Seq(("click", 1.0)).toDF("bucket", "q")
    def runOnce(events: Seq[EventStreams.Event]): Unit = {
      val mem = MemoryStream[EventStreams.Event]
      val hist = DriftStreams.windowedHistogram(
        mem.toDF(), "ts", col("event_type"), "10 minutes", "10 minutes")
      val q = DriftStreams.psiSink(hist, ref, s"$base/out", s"$base/ckpt")
      try {
        mem.addData(events: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    // the checkpoint dir persists across the two runs, but the rebuilt
    // MemoryStream replays from scratch — the same window is emitted twice;
    // the sink must hold exactly one row per window
    val evs = Seq(
      EventStreams.Event(1, t(1), 1, "click", 1.0),
      EventStreams.Event(2, t(25), 1, "click", 1.0))
    runOnce(evs)
    val ckpt2 = java.nio.file.Files.createTempDirectory("psidrift2b").toString
    val mem2 = MemoryStream[EventStreams.Event]
    val hist2 = DriftStreams.windowedHistogram(
      mem2.toDF(), "ts", col("event_type"), "10 minutes", "10 minutes")
    val q2 = DriftStreams.psiSink(hist2, ref, s"$base/out", ckpt2)
    try {
      mem2.addData(evs: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() == got.select("w").distinct().count(),
      "replayed window emitted duplicate sink rows")
  }

  test("streaming drift monitor: restart from checkpoint over overlapping " +
      "input keeps one converged row per window — no recount, no dup") {
    import graft.streaming.DriftStreams
    val base = java.nio.file.Files.createTempDirectory("psidrift3").toString
    val (srcDir, ckptDir) = (s"$base/src", s"$base/ckpt")
    def t(m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 0${m / 60}:${m % 60}%02d:00")
    def write(rows: Seq[(java.sql.Timestamp, String)]): Unit =
      rows.toDF("ts", "event_type").write.mode("append").parquet(srcDir)
    val ref = Seq(("click", 0.5), ("view", 0.5)).toDF("bucket", "q")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("ts timestamp, event_type string").parquet(srcDir)
      val q = DriftStreams.psiSink(
        DriftStreams.windowedHistogram(src, "ts", col("event_type"),
          "10 minutes", "10 minutes"),
        ref, s"$base/out", ckptDir)
      try q.processAllAvailable() finally q.stop()
    }
    // window [0,10): 2 click + 2 view (PSI exactly 0); the 40-min pusher
    // closes it
    write(Seq((t(1), "click"), (t(2), "view"), (t(3), "click"),
      (t(4), "view"), (t(40), "click")))
    runOnce()
    // restart over OVERLAPPING input: replayed window-0 events are late
    // beyond the recovered watermark and must neither re-open nor recount
    // the closed window; the 80-min pusher closes the 40-min pusher's own
    write(Seq((t(5), "click"), (t(6), "click"), (t(80), "view")))
    runOnce()
    val got = spark.read.parquet(s"$base/out")
      .select(col("w").cast("string"), col("n_events"), col("psi"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got.map(_._1) == got.map(_._1).distinct,
      s"duplicate window rows after restart: $got")
    val w0 = got.find(_._1 == "2024-01-01 00:00:00")
    assert(w0 == Some(("2024-01-01 00:00:00", 4L, 0.0)),
      s"restart corrupted the closed window: $got")
  }

  test("streaming heavy hitters: sketch state accumulates across batches, " +
      "stays bounded, and the merged candidates cover the true heavy keys") {
    implicit val sql = spark.sqlContext
    import graft.streaming.HeavyHitterStreams
    val k = 4
    val mem = MemoryStream[String]
    val summaries = HeavyHitterStreams.shardSummaries(
      mem.toDF().toDF("key"), col("key"), k = k, shards = 4)
    val q = summaries.toDF().select(col("_1").as("shard"), col("_2").as("s"))
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("update").start()
    try {
      // batch 1: A-heavy plus cold noise; batch 2: B surges past A
      mem.addData(Seq.fill(30)("A") ++ (0 until 20).map(i => s"cold$i"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(50)("B") ++ Seq.fill(10)("A"): _*)
      q.processAllAvailable()
      // latest summary per shard = the one with the largest n
      val latest = spark.table("hh_test")
        .select(col("shard"), col("s.n").as("n"), col("s.counters").as("c"))
        .as[(Int, Long, Map[String, Long])].collect()
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSeq
      latest.foreach { case (shard, _, counters) =>
        assert(counters.size <= k, s"shard $shard state grew past k: $counters")
      }
      val merged = graft.streaming.HeavyHitterStreams.mergeShards(
        latest.map { case (_, n, c) => graft.ops.HeavyHitters.Summary(n, c) })
      assert(merged.n == 110L, s"rows processed ${merged.n}")
      val cands = graft.streaming.HeavyHitterStreams.candidates(merged, k)
      // A (40/110) and B (50/110) are both > n/k = 27.5 — must be candidates
      assert(cands.contains("A") && cands.contains("B"), s"candidates: $cands")
    } finally q.stop()
  }

  test("streaming near-dup: band matcher emits pairs as later dups arrive") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DedupStreams
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val banded = DedupStreams.bandedDocs(docs, "doc_id", "text")
    val cands = DedupStreams.nearDupCandidates(banded)
    val q = cands.writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").start()
    try {
      val a = "the quick brown fox jumps over the lazy dog tonight"
      val b = "completely different words about spark shuffles and joins"
      mem.addData((1L, a), (2L, b))
      q.processAllAvailable()
      // batch 1: no dups yet
      assert(spark.table("neardup_test").count() == 0)
      // batch 2: doc 3 duplicates doc 1 -> pair (1,3) emitted NOW
      mem.addData((3L, a))
      q.processAllAvailable()
      val got = spark.table("neardup_test")
        .select("d1", "d2").distinct().as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 3L)))
      // batch 3: another copy pairs with BOTH earlier copies
      mem.addData((4L, a))
      q.processAllAvailable()
      val got2 = spark.table("neardup_test")
        .select("d1", "d2").distinct().as[(Long, Long)].collect().toSet
      assert(got2 == Set((1L, 3L), (1L, 4L), (3L, 4L)))
    } finally q.stop()
  }

  test("streaming near-dup agrees with the batch LSH pair graph on a replay") {
    import graft.streaming.DedupStreams
    import graft.text.DedupOps
    val docs = Tables.documents(spark, sf001).filter($"doc_id" < 150)
    // batch truth
    val sig = DedupOps.minhashSignatures(docs, "doc_id", $"text", 2)
    val batchPairs = DedupOps.lshCandidatePairs(sig, "doc_id")
      .as[(Long, Long)].collect().toSet
    // "stream" the same corpus through the stateful matcher in one batch
    // (flatMapGroupsWithState also runs on batch Datasets)
    val banded = DedupStreams.bandedDocs(docs, "doc_id", "text")
    val streamed = DedupStreams.nearDupCandidates(banded, maxIdsPerBand = 1000)
      .select("d1", "d2").distinct().as[(Long, Long)].collect().toSet
    assert(streamed == batchPairs, s"stream ${streamed.size} vs batch ${batchPairs.size}")
  }

  test("streaming CUSUM monitor: state accumulates across micro-batches, " +
      "alarm crosses the threshold and recovers; unknown keys dropped") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DriftStreams
    val mem = MemoryStream[(String, Double)]
    val out = DriftStreams.cusumMonitor(
      mem.toDF().toDF("k", "v"), "k", "v",
      refMeans = Map("lat" -> 10.0), threshold = 4.0)
    val q = out.writeStream.format("memory").queryName("cusum_test")
      .outputMode("update").start()
    try {
      // batch 1: deviations +2 +3 -> cusum 5 -> alarm
      mem.addData(("lat", 12.0), ("lat", 13.0), ("unknown", 99.0))
      q.processAllAvailable()
      val b1 = spark.table("cusum_test")
        .as[(String, Long, Double, Boolean)].collect().toSet
      assert(b1 == Set(("lat", 2L, 5.0, true)), s"batch 1: $b1")

      // batch 2: deviation -2 -> cusum 3 -> recovered
      mem.addData(("lat", 8.0))
      q.processAllAvailable()
      val b2 = spark.table("cusum_test")
        .as[(String, Long, Double, Boolean)].collect()
        .filter(_._2 == 3L).toSet
      assert(b2 == Set(("lat", 3L, 3.0, false)), s"batch 2: $b2")
    } finally q.stop()
  }

  test("DetLeaderboard: exact linear data -> OLS on the true feature wins " +
      "with rmse 0; degenerate (constant) features are dropped, not NaN") {
    import graft.ml.DetLeaderboard
    // y = 3*x1 + 1 exactly; x2 constant (cx2 = 0 -> OLS drops it, ridge
    // shrinks to b1 = 0)
    val df = Seq.tabulate(200)(i => (i.toLong, (i % 17).toDouble, 2.0,
      3.0 * (i % 17) + 1.0)).toDF("id", "x1", "x2", "y")
    val lb = DetLeaderboard.leaderboard(df, Seq("x1", "x2"), "y", col("id"))
      .as[(String, Double, Double, Option[Double], Long, Long, Double,
        Int, Boolean)].collect().toSeq
    val names = lb.map(_._1).toSet
    // ols_x2 (den = 0) and ols_x1_x2 (det = 0) must be ABSENT, not NaN rows
    assert(names == Set("ols_x1", "ridge_x1_0.5", "ridge_x2_0.5"),
      s"zoo: $names")
    val winner = lb.find(_._9).get
    assert(winner._1 == "ols_x1" && winner._8 == 1, s"winner: $winner")
    assert(winner._2 == 1.0 && winner._3 == 3.0,
      s"exact fit must recover b0=1, b1=3: $winner")
    assert(winner._7 == 0.0, s"exact fit must have rmse 0: $winner")
    // split is the q109 md5 contract: train+test partitions the data
    assert(winner._5 + winner._6 == 200, s"split sizes: $winner")
    // ridge on the constant feature predicts the train mean (b1 = 0)
    val rx2 = lb.find(_._1 == "ridge_x2_0.5").get
    assert(rx2._3 == 0.0, s"constant-feature ridge slope must be 0: $rx2")
    // ranking is rmse-ascending
    assert(lb.sortBy(_._8).map(_._7) == lb.map(_._7).sorted, s"rank order: $lb")
  }

}
