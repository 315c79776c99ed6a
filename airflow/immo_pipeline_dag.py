# Airflow DAG scheduling the Spark jobs — the Spark-native translation of
# /root/reference/docker-airflow/dags/airflow_auto_model.py:23-47: same
# task shape (scrape >> export >> preprocess >> model >> publish), same
# weekly cadence with catchup, same retry policy; each BashOperator now
# submits a Spark job instead of running a Python script. All jobs are
# idempotent, so catchup replays are safe.
from datetime import datetime, timedelta

from airflow import DAG
from airflow.operators.bash import BashOperator

default_args = {
    "owner": "airflow",
    "retries": 1,                      # airflow_auto_model.py:8-10
    "retry_delay": timedelta(minutes=5),
}

SUBMIT = "spark-submit --class {cls} /opt/graft/immoelizapipelinespark.jar"
DATA = "/data/immo"

with DAG(
    dag_id="immo_spark_pipeline",
    default_args=default_args,
    start_date=datetime(2024, 1, 1),
    schedule_interval="@weekly",       # airflow_auto_model.py:17-19
    catchup=True,
    # one run at a time: a backfill's runs share the links and properties
    # dirs, and each commit there assumes it is the only writer
    max_active_runs=1,
) as dag:
    # the reference's workflow verifies the store before scraping
    # (run-scraper.yml:21-43); PreflightJob is that assert as a Spark job
    preflight = BashOperator(
        task_id="preflight_store_check",
        bash_command=SUBMIT.format(cls="graft.jobs.PreflightJob")
        + f" {DATA}/links {DATA}/properties",
    )
    scrape = BashOperator(
        task_id="run_scraper",
        bash_command=SUBMIT.format(cls="graft.jobs.ScrapeJob")
        + f" {DATA}/links {DATA}/properties https://www.immoweb.be/sitemap.xml",
    )
    export = BashOperator(
        task_id="run_export",
        bash_command=SUBMIT.format(cls="graft.jobs.ExportJob")
        + f" {DATA}/properties {DATA}/export_csv",
    )
    preprocess = BashOperator(
        task_id="run_preprocessing",
        bash_command=SUBMIT.format(cls="graft.jobs.PreprocessJob")
        + f" {DATA}/export_csv {DATA}/geocode_cache {DATA}/clean",
    )
    model = BashOperator(
        task_id="run_model_script",
        bash_command=SUBMIT.format(cls="graft.jobs.ModelJob")
        + f" {DATA}/clean {DATA}/model",
    )

    # the reference's 4th task commits the refreshed artifacts (model
    # binary, encoding map, cleaned CSVs) back to the repo after modeling
    # (airflow_auto_model.py:40-47: git add/commit/push). Same publish
    # step here, pointed at the artifact checkout; `|| true` on commit so
    # a no-change replay (idempotent catchup) doesn't fail the DAG the
    # way the reference's unguarded `git commit` would.
    publish = BashOperator(
        task_id="git_push",
        bash_command=(
            f"cd {DATA}/artifacts-repo && git add . "
            '&& (git commit -m "Auto commit: weekly artifact refresh" || true) '
            "&& git push origin main"
        ),
    )

    preflight >> scrape >> export >> preprocess >> model >> publish
