"""End-to-end `spark-submit --py-files` smoke (north-rule deployment leg).

Zips the package, copies only the entry script into a neutral temp cwd,
and launches a REAL `spark-submit` subprocess — the only way the job can
import `textgraphs_spark` is through `--py-files`, so this catches
missing submodules in the zip, repo-relative imports, and cwd-dependent
paths that in-process tests can never see.
"""

import shutil
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_runs_er_job(tmp_path):
    shutil.make_archive(str(tmp_path / "tgs"), "zip", root_dir=REPO, base_dir="textgraphs_spark")
    shutil.copy(REPO / "tools" / "submit_er.py", tmp_path / "submit_er.py")
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", str(tmp_path / "tgs.zip"),
            str(tmp_path / "submit_er.py"),
            "--synthetic", "120", "--workdir", str(tmp_path / "wd"),
        ],
        cwd=tmp_path, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "clusters:" in proc.stdout, proc.stdout
    # stage checkpoints + lineage landed in the workdir
    assert (tmp_path / "wd" / "lineage").exists()


def test_session_runs_outside_checkout(tmp_path):
    """get_spark() from a neutral cwd with no PYTHONPATH/SPARK_GRAFT_CPUS:
    the calling process finds the package through sys.path only, so the
    UDF workers must get it from the session, and the default core count
    follows the process's CPU affinity."""
    import os
    import sys

    script = tmp_path / "job.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from textgraphs_spark.session import get_spark\n"
        "from textgraphs_spark.operators.extract import extract_entities\n"
        "spark = get_spark('outside_checkout')\n"
        "docs = spark.createDataFrame(\n"
        "    [(1, 'Werner Herzog met Anna Schmidt in Berlin.')],\n"
        "    'doc_id long, text string')\n"
        "print('master', spark.sparkContext.master)\n"
        "print('rows', extract_entities(docs).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = dict(ln.split(" ", 1) for ln in proc.stdout.splitlines() if " " in ln)
    assert lines["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert int(lines["rows"]) == 3
