"""End-to-end pipeline runner — the thin orchestration layer the
reference spread across Airflow + NiFi + docker exec
(ref:airflow/dags/weather_pipeline.py:24-50), collapsed to one process:

  1. FEED   — materialize wire JSON micro-files (stands in for
              NiFi InvokeHTTP -> EvaluateJsonPath -> AttributesToJSON ->
              PublishKafka; in production, point the engine at Kafka via
              sources.readers.kafka_stream_source instead). The events
              scan is spread round-robin to the 8 feed files BEFORE the
              wire strings are synthesized, so the one shuffle moves two
              ints per row; 8 equal files at maxFilesPerTrigger=4 give
              2 micro-batches per query at any core count.
  2. STREAM — Structured Streaming over the wire files: cast + enrich
              (the SAME functions the batch path runs), append to a
              checkpointed parquet lake + a JSON alerts feed
  3. QUERY  — run the dashboard queries against the fresh lake. The
              wire and alert counts read JSON under the schemas the
              pipeline declares (no inference pass; with a declared
              schema a count never parses a line), and the lake count
              is the sum of the per-city counts the stats query
              already collects.

`--work-dir` must be new or empty; without it each run gets a fresh
temp dir (its path is printed). A second run into a used dir would
write a new feed whose files the stream checkpoint sees as new input,
appending them to the old lake and alerts; `run` refuses instead, with
FileExistsError naming the path, and deletes nothing.

Usage:
  python3 scripts/run_pipeline.py [--sf-dir /root/testdata/sf0.001]
                                  [--work-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(sf_dir: str, work_dir: str, cpus: int | str = 8) -> dict[str, int]:
    from pyspark.sql import functions as F

    from weather_bigdata_project_spark import weather_domain as wd
    from weather_bigdata_project_spark.session import get_spark
    from weather_bigdata_project_spark.streaming import jobs

    wire_dir = os.path.join(work_dir, "wire")
    lake = os.path.join(work_dir, "lake", "weather_enriched")
    alerts = os.path.join(work_dir, "lake", "weather_alerts")
    ckpt = os.path.join(work_dir, "checkpoints")
    for used in (os.path.join(work_dir, "lake"), ckpt):
        if os.path.exists(used):
            raise FileExistsError(
                f"{used} exists: a re-run would append to the earlier "
                "run's lake; pass a new or empty --work-dir"
            )
    spark = get_spark("run_pipeline", cpus=cpus)

    # 1. FEED
    jobs.write_wire_feed(spark, sf_dir, wire_dir)

    # 2. STREAM (two concurrent checkpointed queries, drained availableNow)
    stream = jobs.wire_file_stream(spark, wire_dir)
    enriched = jobs.enriched_stream(stream).select(*wd.ENRICHED_COLUMNS)
    alert_stream = jobs.alerts_stream(enriched)
    q1 = jobs.start_lake_sink(
        enriched, lake, os.path.join(ckpt, "enriched"), fmt="parquet"
    )
    q2 = jobs.start_lake_sink(
        alert_stream, alerts, os.path.join(ckpt, "alerts"), fmt="json"
    )
    q1.awaitTermination(300)
    q2.awaitTermination(300)

    # 3. QUERY the lake
    stats = (
        spark.read.parquet(lake)
        .groupBy("city_name")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("temperature").alias("avg_t"))
        .collect()
    )
    out = {
        "wire_rows": spark.read.schema(jobs.WIRE_SCHEMA).json(wire_dir).count(),
        # groupBy keeps a null city as its own group: the sum is count()
        "lake_rows": sum(r["n"] for r in stats),
        "alert_rows": spark.read.schema(alert_stream.schema).json(alerts).count(),
        "cities": len(stats),
    }
    print(out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--work-dir",
                    help="new or empty dir for the feed, lake and checkpoints "
                         "(default: a fresh temp dir)")
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()
    work_dir = args.work_dir
    if work_dir is None:
        work_dir = tempfile.mkdtemp(prefix="weatherlake_")
        print(f"work dir: {work_dir}")
    run(args.sf_dir, work_dir, args.cpus)


if __name__ == "__main__":
    main()
