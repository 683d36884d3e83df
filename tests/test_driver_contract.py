"""Guards for the driver-facing contract: __spark_entry__ and bench.py.

The driver smoke-checks entry(), runs queries()/oracle_sql() through its
DuckDB comparator, and parses bench.py's single JSON line — breaking any
of these surfaces invalidates a whole round, so they get their own tests.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 80
    # every oracle belongs to a declared query
    assert set(osql) <= set(qs)
    # every callable has the (spark, sf_dir) arity
    for fn in qs.values():
        assert fn.__code__.co_argcount == 2
    # names are stable identifiers (driver uses them as keys)
    assert all(n.replace("_", "").isalnum() for n in qs)


def test_first_window_covers_every_operator_family():
    """The driver checks only the FIRST 50 registry entries; the curated
    PRIORITY front must be fully registered and lead the dict so every
    SURVEY §2 row and LLM-pipeline operator gets a driver correctness row."""
    from milvus_cdc_spark import suite

    missing = [n for n in suite.PRIORITY if n not in suite.QUERIES]
    assert not missing, f"PRIORITY names not registered: {missing}"
    names = list(entry_mod.queries())
    assert names[: len(suite.PRIORITY)] == list(suite.PRIORITY)
    assert len(suite.PRIORITY) == 50
    # every priority query must be oracle-checked (hard rows, not rows-only)
    osql = entry_mod.oracle_sql()
    no_oracle = [n for n in suite.PRIORITY if n not in osql]
    assert not no_oracle, f"PRIORITY queries without oracle: {no_oracle}"


def test_entry_runs_and_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty"}


def test_bench_prints_single_json_line(tmp_path):
    """One-parsable-machine-line contract, exercised through ``--segment
    r1`` — ONE JVM over the 22 anchors (~2 min at sf0.001) instead of the
    full 5-JVM bench. r14 raised the full-run subprocess cap to 1500 s
    and the driver's pytest window stopped completing (VERIFY_r14
    tests_ok:false, tail cut at ~77% with zero failures): one test was
    eating up to 25 of the window's ~25 minutes. The segment path goes
    through the same run_queries/JSON-emit code as the full run; the full
    run's own line shape is pinned by the opt-in test below."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        # keep the sf0.001 smoke from clobbering the repo-root detail
        # file sealed from the real sf0.1 bench run
        SPARK_GRAFT_DETAIL_PATH=str(tmp_path / "BENCH_DETAIL.json"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--segment", "r1"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [line for line in out.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, f"expected ONE json line, got: {lines}"
    assert len(lines[0]) < 4096, "machine line must fit the driver's tail capture"
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec" and payload["queries"]
    assert payload["value"] > 0
    assert len(payload["queries"]) == 22
    # weather instrumentation (r15): every bench line carries the
    # contamination flag and the canary-normalized total
    assert "canary_flagged" in payload and "value_canary_norm" in payload


def test_full_bench_prints_single_json_line(tmp_path):
    """The FULL bench's machine line (suite JVM + 4 isolated segments,
    ~8 min quiet / 25+ min under weather at sf0.001). Opt-in via
    SPARK_GRAFT_FULL_BENCH_TEST=1 — run before sealing a round; too slow
    for the driver's pytest window (r15 verdict #1)."""
    import pytest

    if not os.environ.get("SPARK_GRAFT_FULL_BENCH_TEST"):
        pytest.skip("set SPARK_GRAFT_FULL_BENCH_TEST=1 to run the full bench")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_DETAIL_PATH=str(tmp_path / "BENCH_DETAIL.json"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=1500,
        env=env,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [line for line in out.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, f"expected ONE json line, got: {lines}"
    assert len(lines[0]) < 4096, "machine line must fit the driver's tail capture"
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec" and payload["queries"]
    assert payload["value"] > 0
    assert "r1_subtotal" in payload and "slowest" in payload
    assert "canary_flagged" in payload and "value_canary_norm" in payload


def test_bench_final_line_fits_tail_capture():
    """BENCH_r05 was lost because the machine line outgrew the driver's
    tail capture; the compact-output contract pins it well under ~4 KB."""
    import json as _json

    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(detail):
        d = _json.load(open(detail))
        assert "queries" in d  # the full map lives in the side file


def test_embeddings_fixture_width():
    """catalog.EMB_DIM is trusted in lieu of a per-query .first() probe;
    this is the tripwire if a regenerated fixture ever changes width."""
    import duckdb

    from milvus_cdc_spark import catalog

    for sf in ("sf0.001", "sf0.01"):
        widths = duckdb.sql(
            f"SELECT DISTINCT len(embedding) FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
        ).fetchall()
        assert widths == [(catalog.EMB_DIM,)], (sf, widths)


def test_bcov_window_covers_untimed_queries_in_three_rounds():
    """Round-11 verdict #5: the bench coverage rotation must (a) pick
    only queries no timed segment covers, (b) never repeat a name within
    a window, and (c) cover the whole untimed set within
    ceil(len(untimed) / BCOV_WINDOW) rounds at offsets 0, W, 2W, ... —
    derived, not hardcoded, so a registry registration that grows the
    untimed set past a multiple of W widens the schedule instead of
    silently orphaning the alphabetically-last query (r13: the 255th
    registration pushed the set to 115 and the hardcoded 3x38 left
    watermark_ts uncovered). The window size must still keep the
    promised 3-round full pass."""
    import math

    import bench
    from milvus_cdc_spark import suite

    timed = {
        n for _, names in bench.SEGMENTS + bench.ISOLATED_SEGMENTS
        for n in names
    }
    untimed = sorted(n for n in suite.QUERIES if n not in timed)
    assert untimed, "coverage rotation is moot if everything is timed"
    rounds = math.ceil(len(untimed) / bench.BCOV_WINDOW)
    assert rounds <= 3, (
        f"{len(untimed)} untimed queries need {rounds} rounds at window "
        f"{bench.BCOV_WINDOW}; widen BCOV_WINDOW to keep the 3-round pass"
    )
    covered: set[str] = set()
    orig = bench.BCOV_ROUND_OFFSET
    try:
        for r in range(rounds):
            bench.BCOV_ROUND_OFFSET = r * bench.BCOV_WINDOW
            window = bench._bcov_names()
            assert len(window) == min(bench.BCOV_WINDOW, len(untimed))
            assert len(set(window)) == len(window), "window repeats a name"
            assert set(window) <= set(untimed), "window picked a timed query"
            covered |= set(window)
    finally:
        bench.BCOV_ROUND_OFFSET = orig
    assert covered == set(untimed), sorted(set(untimed) - covered)


def test_run_queries_redraws_stalled_draw(spark):
    """Round-11 verdict #3: a draw exceeding 3x (and +1 s) its prior
    sealed reference is re-timed once in the same JVM; both draws land
    in ``redraws`` while ``timings`` keeps the honest first draw."""
    import time as _time
    from types import SimpleNamespace

    import bench
    from milvus_cdc_spark import suite

    sleeps = [1.3, 0.0]  # first draw stalls, the redraw is fast

    class _Frame:
        def count(self):
            _time.sleep(sleeps.pop(0) if sleeps else 0.0)
            return 1

    name = "__redraw_probe__"
    suite.QUERIES[name] = SimpleNamespace(
        fn=lambda _spark, _sf: _Frame(), oracle=None
    )
    try:
        redraws: dict[str, list[float]] = {}
        timings = bench.run_queries(
            spark,
            [name],
            "/root/testdata/sf0.001",  # == warm dir -> warm-up skipped
            ref={name: 0.05},
            redraws=redraws,
        )
        assert name in redraws, (timings, redraws)
        first, second = redraws[name]
        assert timings[name] == first >= 1.3
        assert second < first / 3, redraws
        # a calm draw must NOT trigger: fast ref, fast run
        sleeps.clear()
        redraws2: dict[str, list[float]] = {}
        bench.run_queries(
            spark, [name], "/root/testdata/sf0.001",
            ref={name: 10.0}, redraws=redraws2,
        )
        assert not redraws2
    finally:
        del suite.QUERIES[name]
