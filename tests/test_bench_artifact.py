"""Guards the bench artifact contract.

Round 6 regression: the single stdout JSON line grew past the driver's
~2 KB stdout tail capture (it carried per-rep ``runs`` arrays for 31
queries), so ``BENCH_r06.json`` recorded ``parsed: null`` despite a
clean run. The fix splits the output into a compact headline line and
a sidecar file; these tests pin that split so it cannot regress as the
registry grows.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import build_artifacts  # noqa: E402
from datafusion_uba_spark.queries import queries  # noqa: E402


def _fake_results(secs: float = 9.1234):
    names = list(queries())
    assert len(names) >= 30, "registry unexpectedly shrank"
    # default profile: worst realistic serialized width — 1-digit
    # seconds + 3 decimals per query (the whole registry runs in
    # ~50 s at sf0.1, so a 10+ s single query is already an outlier;
    # the separate hard-cap test covers pathological widths)
    per_query = {n: secs for n in names}
    per_runs = {n: [secs, secs + 0.4, secs + 0.8] for n in names}
    return names, per_query, per_runs


def test_headline_line_fits_driver_capture():
    _, per_query, per_runs = _fake_results()
    headline, _ = build_artifacts(per_query, per_runs, {}, 3, 0.1)
    # bench.py prints with compact separators; measure the same bytes
    line = json.dumps(headline, separators=(",", ":"))
    # r9 contract: the inline queries map is capped at the slowest 12,
    # so the line stays < 1 KB at ANY registry size (r8 was at
    # 1,821/1,900 bytes from growth alone)
    assert len(line) < 1024, f"headline line is {len(line)} bytes"
    assert "runs" not in headline
    assert headline["metric"] == "registry_total_wall"
    assert len(headline["queries"]) <= 12
    assert set(headline["queries"]) <= set(per_query)
    assert headline["nqueries"] == len(per_query)
    assert headline["detail"] == "BENCH_RUNS.json"
    # hard cap: even with every query pathologically at 99 s the line
    # must still fit — and still be < 1 KB
    _, slow_q, slow_r = _fake_results(99.1234)
    slow_head, _ = build_artifacts(slow_q, slow_r, {}, 3, 0.1)
    slow_line = json.dumps(slow_head, separators=(",", ":"))
    assert len(slow_line) < 1024, f"pathological line is {len(slow_line)} bytes"


def test_headline_inlines_the_slowest_queries():
    names, per_query, per_runs = _fake_results()
    # give three queries distinctive costs; they must be the inline ones
    per_query[names[0]] = 40.0
    per_query[names[1]] = 30.0
    per_query[names[2]] = 20.0
    headline, sidecar = build_artifacts(per_query, per_runs, {}, 3, 0.1)
    inline = list(headline["queries"])
    assert inline[:3] == [names[0], names[1], names[2]]
    # total still covers EVERY query, not just the inline subset
    assert headline["value"] == round(sum(sidecar["best"].values()), 4)


def test_headline_stays_small_even_with_errors():
    names, per_query, per_runs = _fake_results()
    # a long error message must not bloat the headline: only names go there
    errors = {names[0]: "X" * 500, names[1]: "Y" * 500}
    for n in (names[0], names[1]):
        per_query.pop(n)
        per_runs.pop(n)
    headline, sidecar = build_artifacts(per_query, per_runs, errors, 3, 0.1)
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 1024, f"headline line is {len(line)} bytes"
    assert headline["failed"] == sorted(errors)
    assert headline["nfailed"] == len(errors)
    assert all(len(v) == 500 for v in sidecar["errors"].values())


def test_headline_bounded_when_every_query_fails():
    """r9 advice: a mass failure (broken sf dir failing all registry
    rows) must not push the headline past the driver tail capture —
    exactly the run where diagnosis matters most. The inline failed
    list is capped at 10 names + a total count; the complete list
    lives in the sidecar's errors map."""
    names, _, _ = _fake_results()
    errors = {n: f"AnalysisException: path does not exist ({n})" for n in names}
    headline, sidecar = build_artifacts({}, {}, errors, 3, 0.1)
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 1024, f"all-failed headline is {len(line)} bytes"
    assert headline["failed"] == sorted(errors)[:8]
    assert headline["nfailed"] == len(names)
    assert set(sidecar["errors"]) == set(names)


def test_contention_sentinel_in_artifacts():
    """r15 verdict #2: the sidecar must carry a host-contention
    snapshot (load averages, process count, available memory) taken at
    sweep start, and the headline a one-bit contended flag — so a
    driver-vs-builder headline gap is attributable from the artifact
    rather than argued from variance rules."""
    from bench import _contention_sentinel

    sentinel = _contention_sentinel()
    assert isinstance(sentinel["contended"], bool)
    assert sentinel["cpus"] > 0
    assert len(sentinel["load_avg"]) == 3
    assert sentinel["n_processes"] is None or sentinel["n_processes"] > 0
    _, per_query, per_runs = _fake_results()
    headline, sidecar = build_artifacts(
        per_query, per_runs, {}, 3, 0.1, sentinel=sentinel
    )
    assert headline["contended"] == sentinel["contended"]
    assert sidecar["contention"] == sentinel
    # the flag must not break the byte budget
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 1024, f"headline line is {len(line)} bytes"


def test_headline_value_is_sum_of_serialized_queries():
    """The artifact must be internally consistent: the headline value
    is computed from the ROUNDED per-query values actually serialized
    (now in the sidecar's complete "best" map), not the full-precision
    sums (r7 ADVICE: up to ~0.5 ms/query drift between value and the
    written per-query record)."""
    _, per_query, per_runs = _fake_results()
    headline, sidecar = build_artifacts(per_query, per_runs, {}, 3, 0.1)
    assert headline["value"] == round(sum(sidecar["best"].values()), 4)


def _base_registry_names() -> list[str]:
    """Keys of the REGISTRY dict literal in queries.py, in source order
    (read from the source: the live dict also holds the family rows)."""
    src = Path(__file__).resolve().parents[1] / "datafusion_uba_spark" / "queries.py"
    for node in ast.parse(src.read_text()).body:
        if (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and node.target.id == "REGISTRY"
        ):
            return [k.value for k in node.value.keys]
    raise AssertionError("no REGISTRY literal in queries.py")


def test_registry_is_source_ordered_union_of_families():
    """REGISTRY is the base literal followed by the LLM, UBA and stats
    families, in source order, with no name defined twice (a repeated
    name would silently replace the earlier row)."""
    from datafusion_uba_spark.queries import REGISTRY
    from datafusion_uba_spark.queries_llm import LLM_REGISTRY
    from datafusion_uba_spark.queries_stats import STATS_REGISTRY
    from datafusion_uba_spark.queries_uba import UBA_REGISTRY

    families = [_base_registry_names(), list(LLM_REGISTRY),
                list(UBA_REGISTRY), list(STATS_REGISTRY)]
    flat = [n for fam in families for n in fam]
    dupes = sorted({n for n in flat if flat.count(n) > 1})
    assert not dupes, f"names defined in more than one family: {dupes}"
    assert list(REGISTRY) == flat


def test_registry_import_starts_no_process():
    """Importing the registry in a fresh interpreter spawns nothing
    (no git, no helper process): the row set and order come from the
    source alone."""
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})\n"
        "spawned = []\n"
        "def hook(event, args):\n"
        "    if event in ('subprocess.Popen', 'os.system', 'os.fork',\n"
        "                 'os.forkpty', 'os.posix_spawn', 'os.spawn',\n"
        "                 'os.exec', 'os.startfile'):\n"
        "        spawned.append(event)\n"
        "sys.addaudithook(hook)\n"
        "import datafusion_uba_spark.queries\n"
        "print(json.dumps(spawned))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, timeout=120,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_sidecar_carries_full_detail():
    _, per_query, per_runs = _fake_results()
    headline, sidecar = build_artifacts(per_query, per_runs, {}, 3, 0.1)
    assert sidecar["runs"] == per_runs
    assert sidecar["repeat"] == 3
    assert sidecar["sf"] == 0.1
    assert all(
        sidecar["median"][n] == sorted(r)[1] for n, r in per_runs.items()
    )
    # the sidecar's "best" map is the COMPLETE per-query record now
    # that the headline inlines only the slowest-12
    assert set(sidecar["best"]) == set(per_query)
    for n, best in sidecar["best"].items():
        assert best == round(per_query[n], 3)
    # the headline's inline subset must agree with the sidecar
    for n, best in headline["queries"].items():
        assert best == sidecar["best"][n]


def test_headline_guard_headroom_at_220_rows():
    """r11 (verdict #7): re-verify the guard's headroom as the registry
    grows — a synthetic 220-row registry (the real registry passed 160
    this round) with realistically long names
    (the longest real name is ~where these land) and pathological
    99-second times must still produce a < 1 KB headline, because the
    inline map is capped at the slowest 12 regardless of registry
    size. Failures bloat only by name, so a failed-heavy run is pinned
    too (the cap on the failed list is part of the r10 contract)."""
    names = [f"synthetic_operator_row_number_{i:03d}" for i in range(220)]
    per_query = {n: 99.1234 for n in names}
    per_runs = {n: [99.1234, 99.5, 99.9] for n in names}
    headline, sidecar = build_artifacts(per_query, per_runs, {}, 3, 0.1)
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 1024, f"220-row headline is {len(line)} bytes"
    assert headline["nqueries"] == 220
    assert len(headline["queries"]) <= 12
    assert len(sidecar["best"]) == 220
    # failure-heavy variant: 40 failed rows with long error strings
    errors = {n: "x" * 500 for n in names[:40]}
    ok_q = {n: per_query[n] for n in names[40:]}
    ok_r = {n: per_runs[n] for n in names[40:]}
    fhead, _ = build_artifacts(ok_q, ok_r, errors, 3, 0.1)
    fline = json.dumps(fhead, separators=(",", ":"))
    assert len(fline) < 1024, f"failed-heavy headline is {len(fline)} bytes"
