"""End-to-end `spark-submit --py-files` test - the deployment mode the
engine targets (north rule: "run via spark-submit --py-files on a
multi-executor cluster").

Packages the engine with scripts/make_pyfiles.py, then runs the index
build + query job via spark-submit from a directory OUTSIDE the repo
with PYTHONPATH scrubbed, so the --py-files zip is the ONLY way the
package can be imported on the driver or the executors.  The job's
top-k output must be rank- AND score-identical to an in-process build
over the same deterministic synthetic corpus.
"""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_build_and_query(tmp_path, spark):
    from scripts.make_pyfiles import main as make_zip

    zip_path = make_zip()
    # run from tmp with the job script copied out of the repo: the cwd
    # must not be able to satisfy `import pg_cjk_parser_spark`
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "scripts", "build_index_job.py"), job)
    idx = tmp_path / "idx"
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    env["LANG"] = env["LC_ALL"] = "C.UTF-8"  # CJK argv through spark-submit
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(job),
            "--synth-docs", "800",
            "--index-dir", str(idx),
            "--num-buckets", "8",
            "--num-salts", "2",
            "--query", "のび太",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    payloads = [
        json.loads(line)
        for line in proc.stdout.splitlines()
        if line.startswith("{")
    ]
    stats = next(p["stats"] for p in payloads if "stats" in p)
    assert stats["n_docs"] == 800
    # executors import the package from the shipped zip, and that
    # import installs the zip-directory guard (spark.worker_env)
    executor = next(p["executor"] for p in payloads if "executor" in p)
    assert ".zip" in executor["package_file"], executor
    assert executor["guard_active"], executor
    topk = next(p["topk"] for p in payloads if p.get("query") == "のび太")
    assert len(topk) >= 1

    # rank- and score-identical to an in-process build of the same corpus
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.query.topk import search
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    idx2 = tmp_path / "idx2"
    build_index(
        spark,
        synth_corpus(spark, 800, seed=42),
        str(idx2),
        num_buckets=8,
        num_salts=2,
        n_docs=800,
    )
    rows = search(spark, str(idx2), "のび太", k=10).collect()
    assert [[r.docid, round(r.score, 6)] for r in rows] == topk


def test_entry_contract_cwd_independent(tmp_path):
    """The driver contract must work with a driver whose cwd is NOT
    the repo root: __spark_entry__ puts the repo on sys.path at
    import (driver side) and ships the package zip via sc.addPyFile
    on first use (worker side), so UDF closures unpickle on executors
    that cannot see the repo through their cwd.  Runs a UDF-bearing
    queries() row end-to-end from an empty tmp cwd with PYTHONPATH
    scrubbed."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = e.queries()['ts_debug'](spark, '/root/testdata/sf0.001')\n"
        "print('ROWS=%d' % df.count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS=")
    ]
    assert rows and int(rows[0].split("=", 1)[1]) > 0
