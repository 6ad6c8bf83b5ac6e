"""Example Airflow DAG: schedule the graft Spark jobs exactly like the
reference schedules its eager ETL (reference spotify_dag.py:8-34 —
daily interval, retries=2 with 5-minute delay, catchup off,
max_active_runs=1, email-on-failure), but with Airflow as a THIN
orchestrator: all data work runs in Spark via spark-submit, and the
only thing flowing back is the one-line JSON summary graft.Jobs prints
(the XCom payload; see Jobs.scala).

This file is an orchestration example, not part of the Scala library —
it needs an Airflow deployment with apache-airflow-providers-apache-spark.
"""
from datetime import datetime, timedelta

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)

GRAFT_JAR = "/opt/graft/graft-assembly.jar"
PAYLOADS = "/data/spotify/recently_played/{{ ds }}.jsonl"  # connector-fetched
TABLE_PATH = "/warehouse/recently_played"

# Scheduling contract mirrored from the reference DAG
# (spotify_dag.py:8-16 default_args, :19-27 DAG kwargs).
default_args = {
    "owner": "airflow",
    "depends_on_past": False,
    "start_date": datetime(2020, 11, 8),
    "email": ["airflow@example.com"],
    "email_on_failure": True,
    "email_on_retry": False,
    "retries": 2,
    "retry_delay": timedelta(minutes=5),
}

dag = DAG(
    "spotify_graft_dag",
    default_args=default_args,
    description="Spotify ETL on the graft Spark engine",
    schedule_interval=timedelta(days=1),
    catchup=False,
    max_active_runs=1,  # the incremental cursor assumes serial runs
    tags=["spotify", "etl", "music", "spark"],
)

# One task, like the reference's single PythonOperator — but the work
# is a Spark job, so retries re-run an IDEMPOTENT pipeline (ep2 appends
# only plays whose played_at the sink does not hold yet; a retry
# re-appends nothing).
run_etl = SparkSubmitOperator(
    task_id="complete_spotify_etl",
    application=GRAFT_JAR,
    java_class="graft.Jobs",
    application_args=["ep2", PAYLOADS, TABLE_PATH, "{{ ds }}"],
    conf={"spark.sql.session.timeZone": "UTC"},
    # graft.Jobs prints exactly one JSON line; SparkSubmitOperator logs
    # capture it, and a non-zero exit (validation failure) triggers the
    # retry policy above.
    dag=dag,
)

run_etl
