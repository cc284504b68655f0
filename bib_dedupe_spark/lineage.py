"""Checkpointing, lineage metrics, and resumable pipeline runs.

North-rule requirements (BASELINE.json): per-stage checkpoints with
restart-from-last-complete-stage, and per-partition lineage rows
(stage, partition, rows, wall-time). Replaces the reference's
VerbosePrint timers (/root/reference/bib_dedupe/block.py:240-303,
sim.py:516-543) with queryable parquet tables.

Layout under ``checkpoint_dir``:
    manifest.json            — ordered stage completion records
    stages/<stage>/          — stage output parquet
    lineage/<stage>/         — per-partition lineage rows parquet
    cc_iter_<k>/             — per-iteration CC label frames
"""
from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageRunner:
    """Run named stages with parquet checkpoints and resume support."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.dir = Path(checkpoint_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self._manifest_path = self.dir / "manifest.json"
        self.manifest: dict = {}
        if self._manifest_path.is_file():
            self.manifest = json.loads(self._manifest_path.read_text())

    def _save_manifest(self) -> None:
        self._manifest_path.write_text(json.dumps(self.manifest, indent=1))

    def _stage_path(self, stage: str) -> str:
        return str(self.dir / "stages" / stage)

    def completed(self, stage: str) -> bool:
        return self.manifest.get(stage, {}).get("status") == "complete"

    def _bucket_table(self, stage: str) -> str:
        # warehouse table names must be unique per checkpoint dir
        import hashlib

        digest = hashlib.md5(str(self.dir).encode()).hexdigest()[:10]
        return f"ckpt_{digest}_{stage}"

    def run(
        self,
        stage: str,
        build,
        bucket_by: str | None = None,
        buckets: int = 64,
    ) -> DataFrame:
        """Build-or-restore one stage.

        ``build`` is a zero-arg callable returning the stage DataFrame; it
        is only invoked when the stage has not completed in a prior run.
        The returned DataFrame always reads from the checkpoint parquet,
        truncating lineage between stages.

        ``bucket_by`` persists the stage as a hash-bucketed (sorted)
        table instead of plain parquet: downstream equi-joins on that
        column read the bucketing from the table metadata and skip the
        Exchange on this (usually biggest) side — the layout a 100 TB
        corpus that is re-joined every increment should live in.
        """
        path = self._stage_path(stage)
        if self.completed(stage):
            table = self.manifest[stage].get("bucket_table")
            if table:
                # Prefer the registered table (keeps bucket metadata → no
                # Exchange on downstream equi-joins). A restart in a new
                # session's catalog does not know the table, so fall back
                # to the recorded filesystem location as plain parquet —
                # data identical, only bucketing metadata lost.
                if self.spark.catalog.tableExists(table):
                    return self.spark.table(table)
                loc = self.manifest[stage].get("bucket_location")
                if loc:
                    return self.spark.read.parquet(loc)
                raise FileNotFoundError(
                    f"stage {stage!r}: bucketed table {table!r} not in this "
                    "session's metastore and no bucket_location recorded in "
                    "the manifest — re-run from the original warehouse dir"
                )
            return self.spark.read.parquet(path)

        start = time.time()
        df = build()
        bucket_location = None
        if bucket_by is not None:
            from bib_dedupe_spark.sources.io import write_records_bucketed

            # the table's files live at the stage path, so a re-run
            # after a crash overwrites them whatever its catalog knows
            table = self._bucket_table(stage)
            write_records_bucketed(
                df, table, buckets=buckets, bucket_col=bucket_by, path=path
            )
            out = self.spark.table(table)
            bucket_location = path
        else:
            df.write.mode("overwrite").parquet(path)
            # the written frame's schema: inferring it is a footer job
            out = self.spark.read.schema(df.schema).parquet(path)

        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .withColumn("stage", F.lit(stage))
        )
        lineage.write.mode("overwrite").parquet(
            str(self.dir / "lineage" / stage)
        )

        wall = time.time() - start
        rows = out.count()
        self.manifest[stage] = {
            "status": "complete",
            "rows": rows,
            "wall_s": round(wall, 3),
            "path": path,
            "bucket_table": self._bucket_table(stage) if bucket_by else None,
            "bucket_location": bucket_location,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        self._save_manifest()
        return out

    def lineage_table(self) -> DataFrame:
        """All per-partition lineage rows recorded so far."""
        return self.spark.read.parquet(str(self.dir / "lineage" / "*"))


def run_pipeline(
    spark: SparkSession,
    records_df: DataFrame,
    checkpoint_dir: str,
    max_block_size: int | None = 1000,
    bucket_records: bool = False,
    buckets: int = 64,
) -> DataFrame:
    """Full resumable pipeline: each stage checkpointed; a restart with the
    same ``checkpoint_dir`` resumes after the last complete stage.

    ``bucket_records=True`` persists the prep stage hash-bucketed on ID,
    so the block stage's two pair-enrichment joins read co-located
    buckets instead of exchanging the full prepared corpus — the layout
    to use when the corpus is large and re-joined (incremental crawls).
    """
    from bib_dedupe_spark import block, merge, prep
    from bib_dedupe_spark.operators.cluster import cluster
    from bib_dedupe_spark.operators.match import match

    runner = StageRunner(spark, checkpoint_dir)

    records = runner.run("records", lambda: records_df)
    prepared = runner.run(
        "prep",
        lambda: prep(records),
        bucket_by="ID" if bucket_records else None,
        buckets=buckets,
    )
    pairs = runner.run(
        "block", lambda: block(prepared, max_block_size=max_block_size)
    )
    matched = runner.run("match", lambda: match(pairs))
    components = runner.run(
        "cluster",
        lambda: cluster(
            matched, checkpoint_dir=str(Path(checkpoint_dir) / "cc")
        ),
    )
    return runner.run("merge", lambda: merge(records, components))
