"""spark-submit --py-files packaging smoke (north-rule deployment shape).

The cluster deployment story is: `python tools/package.py` → ship
dist/bzzz_spark.zip via --py-files → run tools/submit_build.py.  These
tests pin the two properties that break silently: (1) the zip alone is
importable (no repo checkout on executors), and (2) the spark-submit
entry point builds an index end-to-end from the zip and RESUMES from
its manifest on re-run instead of rebuilding.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _build_zip(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import package as pkg

    out = str(tmp_path / "bzzz_spark.zip")
    pkg.build_zip(out)
    return out


def test_zip_imports_without_repo(tmp_path):
    zpath = _build_zip(tmp_path)
    import package as pkg

    mods = pkg.zip_modules(zpath)
    assert {"bzzz_spark.build.indexer", "bzzz_spark.query.wand"} <= set(mods)
    env = dict(os.environ, PYTHONPATH="")
    out = subprocess.run(
        [sys.executable, "-c", pkg.import_all_code(zpath)],
        capture_output=True, text=True, cwd="/", env=env, timeout=120,
    )
    assert out.stdout.strip() == "zip-import-ok", out.stderr[-2000:]


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_build_and_resume(tmp_path, spark):
    from bzzz_spark.fixtures import synth_transcripts_spark

    corpus = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "index")
    synth_transcripts_spark(spark, 3000, parallelism=4).write.parquet(corpus)
    zpath = _build_zip(tmp_path)

    def run():
        r = subprocess.run(
            [
                SPARK_SUBMIT, "--master", "local[4]",
                "--py-files", zpath,
                os.path.join(REPO, "tools", "submit_build.py"),
                "--input", corpus, "--output", out_dir, "--chunks", "2",
            ],
            capture_output=True, text=True, cwd=REPO, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return r

    run()
    manifest = json.load(open(os.path.join(out_dir, "manifest.json")))
    assert manifest["complete"] is True
    assert manifest["stages"]["docs"]["n_docs"] == 3000
    first_took = manifest["stages"]["docs"]["took_sec"]

    # second run must RESUME (manifest unchanged), not rebuild
    run()
    manifest2 = json.load(open(os.path.join(out_dir, "manifest.json")))
    assert manifest2["stages"]["docs"]["took_sec"] == first_took
