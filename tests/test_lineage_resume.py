"""Checkpoint/resume semantics of the lineage StageRunner."""
import json

from pyspark.sql import functions as F

from bib_dedupe_spark.lineage import StageRunner


def test_stage_runner_checkpoints_and_resumes(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("x", F.col("id") * 2)

    runner = StageRunner(spark, ckpt)
    out1 = runner.run("double", build)
    assert out1.count() == 100
    assert calls["n"] == 1

    # same runner: cached manifest short-circuits
    out2 = runner.run("double", build)
    assert out2.count() == 100
    assert calls["n"] == 1

    # fresh runner (simulated restart): restored from parquet, not rebuilt
    runner2 = StageRunner(spark, ckpt)
    out3 = runner2.run("double", build)
    assert out3.count() == 100
    assert calls["n"] == 1

    manifest = json.loads((tmp_path / "ckpt" / "manifest.json").read_text())
    assert manifest["double"]["status"] == "complete"
    assert manifest["double"]["rows"] == 100

    lineage = runner2.lineage_table()
    assert lineage.filter("stage = 'double'").count() > 0
    total = (
        lineage.filter("stage = 'double'")
        .agg(F.sum("rows_out"))
        .first()[0]
    )
    assert total == 100


def test_full_pipeline_resume(spark, tmp_path):
    import pandas as pd

    from bib_dedupe_spark.lineage import run_pipeline
    from bib_dedupe_spark.sources.synthetic import generate

    records, golden = generate(n_base=40, seed=5)
    df = spark.createDataFrame(pd.DataFrame(records))
    ckpt = str(tmp_path / "pipe")

    merged1 = run_pipeline(spark, df, ckpt)
    n1 = merged1.count()
    assert 0 < n1 <= len(records)

    # resume: all stages restored; result identical
    merged2 = run_pipeline(spark, df, ckpt)
    assert merged2.count() == n1
    assert sorted(r["ID"] for r in merged2.collect()) == sorted(
        r["ID"] for r in merged1.collect()
    )


def test_pipeline_bucketed_prep_stage(spark, tmp_path):
    """bucket_records=True: prep checkpoint is a hash-bucketed table, the
    resumed read comes from it, results match the unbucketed pipeline,
    and an ID equi-join against it plans no Exchange on the bucketed side."""
    import pandas as pd

    from bib_dedupe_spark.lineage import StageRunner, run_pipeline
    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=60, seed=13)
    df = spark.createDataFrame(pd.DataFrame(records))

    plain = run_pipeline(spark, df, str(tmp_path / "ck_plain"))
    rows_plain = {r["ID"] for r in plain.select("ID").collect()}

    ckpt = str(tmp_path / "ck_bucketed")
    bucketed = run_pipeline(
        spark, df, ckpt, bucket_records=True, buckets=8
    )
    rows_bucketed = {r["ID"] for r in bucketed.select("ID").collect()}
    assert rows_bucketed == rows_plain

    runner = StageRunner(spark, ckpt)
    assert runner.manifest["prep"]["bucket_table"]
    prep_df = runner.run("prep", lambda: (_ for _ in ()).throw(AssertionError))
    # join on the bucket column: the bucketed side must not re-exchange
    import contextlib
    import io as _io

    probe = spark.createDataFrame(
        [(r,) for r in sorted(rows_plain)][:10], ["ID"]
    ).hint("shuffle_hash")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        prep_df.join(probe, "ID").explain()
    plan = buf.getvalue()
    # the bucketed (big) side must carry its bucketing into the join: at
    # most the probe side exchanges
    assert "Bucketed: true" in plan or plan.count("Exchange") <= 1, plan


_RESUME_SCRIPT = """
import sys
from bib_dedupe_spark.lineage import run_pipeline
from bib_dedupe_spark.session import get_spark

ckpt, warehouse, out = sys.argv[1:4]
spark = get_spark(
    master="local[2]",
    extra_conf={
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": warehouse,
    },
)
records = spark.read.parquet(ckpt + "/stages/records")
merged = run_pipeline(spark, records, ckpt, bucket_records=True, buckets=8)
merged.write.parquet(out)
spark.stop()
"""


def test_pipeline_bucketed_prep_resumes_in_a_new_catalog(spark, tmp_path):
    """A crash after the bucketed prep table is written but before its
    manifest record: a re-run in a fresh session (new in-memory catalog,
    same warehouse) rewrites the table and gives the same output."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    import pandas as pd

    from bib_dedupe_spark.lineage import run_pipeline
    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=40, seed=17)
    df = spark.createDataFrame(pd.DataFrame(records))
    ckpt = str(tmp_path / "ck")
    first = run_pipeline(spark, df, ckpt, bucket_records=True, buckets=8)
    expected = sorted(tuple(r) for r in first.collect())

    manifest_path = Path(ckpt) / "manifest.json"
    manifest = json.loads(manifest_path.read_text())
    manifest_path.write_text(json.dumps({"records": manifest["records"]}))

    out = str(tmp_path / "resumed")
    env = dict(os.environ)
    repo = str(Path(__file__).resolve().parent.parent)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _RESUME_SCRIPT,
            ckpt,
            spark.conf.get("spark.sql.warehouse.dir"),
            out,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    resumed = spark.read.parquet(out).select(*first.columns)
    assert sorted(tuple(r) for r in resumed.collect()) == expected
    assert json.loads(manifest_path.read_text())["prep"]["status"] == (
        "complete"
    )
