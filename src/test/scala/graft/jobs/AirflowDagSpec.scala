package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** The Airflow DAG submits its tasks by class name, so a renamed or deleted
  * main would only fail the weekly run; this spec fails first. */
class AirflowDagSpec extends AnyFunSuite {

  test("every graft.jobs class the DAG submits is an object with main(Array[String])") {
    val dag = java.nio.file.Files.readString(java.nio.file.Paths.get("airflow/immo_pipeline_dag.py"))
    val submitted = """cls="(graft\.jobs\.\w+)"""".r.findAllMatchIn(dag).map(_.group(1)).toList
    assert(submitted == List("graft.jobs.PreflightJob", "graft.jobs.ScrapeJob",
      "graft.jobs.ExportJob", "graft.jobs.PreprocessJob", "graft.jobs.ModelJob"), submitted)
    for (name <- submitted) {
      val module = Class.forName(name + "$")
      assert(module.getField("MODULE$") != null, name)
      assert(module.getMethod("main", classOf[Array[String]]).getReturnType == Void.TYPE, name)
    }
  }

  test("the DAG runs one instance at a time: catchup runs share the stores") {
    val dag = java.nio.file.Files.readString(java.nio.file.Paths.get("airflow/immo_pipeline_dag.py"))
    assert("""(?m)^\s*max_active_runs=1,""".r.findFirstIn(dag).nonEmpty)
  }
}
