"""Tiny-input smoke test of the benchmark itself.

Runs every workload at minimal size, untraced and traced, and checks
that every pass is correct and that every metric the benchmark declares
is emitted with its unit; checks that a failing pass ends the run with a
failed result; and checks the dedup twin against the oracle SQL. Run
from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run  # noqa: E402

WORKLOADS = run.WORKLOAD_NAMES


def _run(workload: str, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    code, result = _run(workload, 0)
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2
    expected = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    code, result = _run(workload, 1)
    assert code == 0 and result["correct"]
    expected = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "join_tiles":
        assert m["operators.spatial.pip_in_rows"] == m["operators.spatial.candidate_rows"] > 0
        assert m["functions.geodesy.kernel_rows"] == m["operators.spatial.candidate_rows"]
        assert 0 < m["operators.spatial.pip_out_rows"] <= m["operators.spatial.pip_in_rows"]
        # the ring-expansion loop ran, not the brute-force fast path
        assert m["operators.knn.rounds"] >= 1
        assert m["operators.convert.features"] > 0 and m["operators.convert.error_rows"] == 0
    if workload == "corpus_dedup":
        assert m["operators.dedup.verified_pairs"] > 0


def test_declared_metrics_match_the_code():
    declared = _declared()
    assert [w["name"] for w in declared["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in declared["end_to_end"]} == run.END_TO_END
    layers = run.PER_LAYER + run._checkpoint_stage_layers()
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == {n: u for n, u, _, _ in layers}


def test_refuses_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "join_tiles", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_raising_pass_fails_the_run(workload):
    """Every pass raising must still end the run, with all of them counted
    in `failed`, a valid result line and a non-zero exit."""
    script = (
        "import sys; sys.path[:0] = [{root!r}, {here!r}]\n"
        "import run, workloads\n"
        "def boom(*args, **kwargs): raise RuntimeError('forced failure')\n"
        "workloads.WORKLOADS[{workload!r}].run_pass = boom\n"
        "sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', '--seconds', '1',"
        " '--trace', '0', '--size', 'tiny']))\n"
    ).format(root=str(ROOT), here=str(HERE), workload=workload)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 1 and not result["correct"]
    # the cold and warm-up passes raised, so no warm pass ran, and the
    # warm-up left no checkpoint to resume
    assert (result["attempted"], result["failed"]) == (3, 3)


@pytest.mark.parametrize("seed", [3, 11])
def test_dedup_twin_matches_the_oracle(seed):
    """The corpus_dedup reference equals oracle.sql_minhash_lsh_pairs and
    oracle.sql_containment_pairs run in DuckDB on the same documents."""
    duckdb = pytest.importorskip("duckdb")
    import datagen
    import workloads
    from openaip_yaixm_to_geojson_spark import oracle

    docs = datagen.documents_table(seed, 1_000, dup_share=0.05)
    minhash, containment = workloads.dedup_twin(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    con = duckdb.connect()
    con.register("documents", docs)
    assert minhash and containment
    assert set(con.execute(f"SELECT key_a, key_b FROM ({oracle.sql_minhash_lsh_pairs()})").fetchall()) == minhash
    assert set(con.execute(f"SELECT key_a, key_b FROM ({oracle.sql_containment_pairs()})").fetchall()) == containment
