"""The north rule's launch path — `spark-submit --py-files <zip>` — must
actually work: package the engine with tools/make_pyfiles.py, then run a
real spark-submit from a scratch directory (so the import can ONLY be
satisfied by the --py-files zip) and check the result parquet + metrics.
"""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAMPLE1 = os.path.join(REPO, "tests", "data", "sample1.gr")


def _spark_submit_bin() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_pyfiles_scc(tmp_path):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert zip_path.endswith("detectingscc_spark.zip") and os.path.exists(zip_path)

    # run from a scratch cwd with the repo stripped from PYTHONPATH: the
    # engine import must come from the submitted zip, nothing else
    script = tmp_path / "submit_main.py"
    shutil.copy(os.path.join(REPO, "tools", "submit_main.py"), script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    cmd = [
        _spark_submit_bin(),
        "--master", "local[8]",
        "--py-files", zip_path,
        str(script),
        "--algo", "scc",
        "--input", SAMPLE1,
        "--output", str(out_dir),
        "--checkpoint-dir", str(ckpt),
        "-w", "8",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                       cwd=tmp_path, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    with open(out_dir / "metrics.json") as f:
        metrics = json.load(f)
    assert metrics["algo"] == "scc"
    assert metrics["groups"] == 3  # sample1.gr has 3 SCCs
    assert os.path.isdir(out_dir / "result")


def test_spark_submit_ann_build_then_probe(tmp_path):
    """The persisted-ANN production read path is drivable without Python
    (VERDICT r4 item 8): ann-build persists the partitioned LSH index,
    ann-probe answers top-k against it via the pruned partition scan —
    both through the same spark-submit --py-files launch path as every
    other operator."""
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    script = tmp_path / "submit_main.py"
    shutil.copy(os.path.join(REPO, "tools", "submit_main.py"), script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    emb = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.001") + "/embeddings.parquet"
    idx = tmp_path / "lsh_index"

    def submit(*args):
        cmd = [_spark_submit_bin(), "--master", "local[8]",
               "--py-files", zip_path, str(script), *args]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                           cwd=tmp_path, env=env)
        assert r.returncode == 0, r.stderr[-3000:]
        return r

    submit("--algo", "ann-build", "--index-kind", "lsh", "--n-tables", "4",
           "--input", emb, "--index-path", str(idx),
           "--output", str(tmp_path / "build_out"), "-w", "8")
    assert os.path.exists(idx / "_SUCCESS")

    submit("--algo", "ann-probe", "--index-kind", "lsh", "--n-tables", "4",
           "--query-ids", "0,1,2", "--topk", "3",
           "--recall-against", "brute",
           "--input", emb, "--index-path", str(idx),
           "--output", str(tmp_path / "probe_out"), "-w", "8")
    with open(tmp_path / "probe_out" / "metrics.json") as f:
        metrics = json.load(f)
    assert metrics["algo"] == "ann-probe" and metrics["rows"] > 0
    assert "probe_time_sec" in metrics
    # --recall-against brute: quality is visible to a cluster operator
    # straight from metrics.json (recall@3 of the pruned-scan probe vs
    # the exact scan; 4-table LSH on the fixture stays well above 0)
    assert 0.0 < metrics["recall"] <= 1.0
    assert os.path.isdir(tmp_path / "probe_out" / "result")


def test_cli_companion_algos_inprocess(spark, tmp_path, monkeypatch):
    """The round-6 companion algos are CLI-drivable: hits, salsa, eigen,
    harmonic, ktruss each write result parquet + metrics.json on
    sample1.gr. In-process (main() never stops the session)."""
    import json
    import sys

    from detectingscc_spark.__main__ import main

    for algo in ("hits", "salsa", "eigen", "harmonic", "ktruss", "linkpred"):
        out = tmp_path / algo
        monkeypatch.setattr(sys, "argv", [
            "detectingscc_spark", "--algo", algo, "--input", SAMPLE1,
            "--output", str(out), "--iters", "3", "--sources-mod", "2",
        ])
        main()
        with open(out / "metrics.json") as f:
            m = json.load(f)
        assert m["algo"] == algo and m["groups"] >= 0, algo
        assert os.path.exists(out / "result" / "_SUCCESS"), algo
