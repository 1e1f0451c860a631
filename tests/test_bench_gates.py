"""Gates on the committed benchmark artifacts (VERDICT r9 #1/#3): the
measurement layer must be unable to publish degraded-host numbers under
certified names or clobber composed sections with single-run samples.
No Spark — these exercise the tooling's compose/gate logic directly."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def _mk_attempt(queries, pre=0.8, post=0.9, chunk=None, **extra):
    return {
        "measured_at": "2026-08-16T00:00:00Z",
        "chunk": chunk,
        "queries": queries,
        "rows": {},
        "host_calibration_pre": {"calib_memcopy_2gb_s": pre},
        "host_calibration_post": {"calib_memcopy_2gb_s": post},
        **extra,
    }


@pytest.fixture()
def scaling_env(tmp_path, monkeypatch):
    """Point bench_scaling's module-level paths at a sandbox."""
    import bench_scaling as bs

    monkeypatch.setattr(bs, "REPO", tmp_path)
    monkeypatch.setattr(bs, "OUT", tmp_path / "SCALING.json")
    (tmp_path / ".bench").mkdir()
    return bs, tmp_path


def _write_attempts(tmp_path, sf, attempts):
    p = tmp_path / ".bench" / f"scaling-attempts-sf{sf}.jsonl"
    p.write_text("".join(json.dumps(a) + "\n" for a in attempts))


def test_compose_min_takes_per_query_min_and_verifies(scaling_env):
    bs, tmp = scaling_env
    _write_attempts(
        tmp,
        "1",
        [
            _mk_attempt({"q_a": 5.0, "q_b": 1.0}),
            _mk_attempt({"q_a": 2.0, "q_b": 9.0}, chunk="shapes"),
        ],
    )
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    q = doc["sfs"]["1"]["queries"]
    assert q == {"q_a": 2.0, "q_b": 1.0}
    agg = doc["sfs"]["1"]["aggregation"]
    assert agg["n_attempts"] == 2
    assert agg["query_spread"]["q_a"] == {"min": 2.0, "max": 5.0, "n": 2}
    bs.verify_invariants()  # self-consistent by construction


def test_later_single_run_cannot_clobber_composed_min(scaling_env):
    """The r9 disease: a post-compose --only run must never raise a
    committed value.  Under append+recompose, adding a WORSE attempt
    leaves the committed value at the spread min."""
    bs, tmp = scaling_env
    _write_attempts(tmp, "1", [_mk_attempt({"q_a": 2.0})])
    bs.compose_min("1")
    _write_attempts(
        tmp,
        "1",
        [_mk_attempt({"q_a": 2.0}), _mk_attempt({"q_a": 10.56}, chunk="shapes")],
    )
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    assert doc["sfs"]["1"]["queries"]["q_a"] == 2.0
    assert doc["sfs"]["1"]["aggregation"]["query_spread"]["q_a"]["max"] == 10.56


def test_verify_invariants_rejects_hand_edited_value(scaling_env):
    bs, tmp = scaling_env
    _write_attempts(tmp, "1", [_mk_attempt({"q_a": 2.0})])
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    doc["sfs"]["1"]["queries"]["q_a"] = 10.56  # simulate a clobber
    (tmp / "SCALING.json").write_text(json.dumps(doc))
    with pytest.raises(SystemExit, match="spread min"):
        bs.verify_invariants()


def test_verify_invariants_rejects_section_without_aggregation(scaling_env):
    bs, tmp = scaling_env
    (tmp / "SCALING.json").write_text(
        json.dumps({"sfs": {"1": {"queries": {"q_a": 1.0}, "rows": {}}}})
    )
    with pytest.raises(SystemExit, match="aggregation"):
        bs.verify_invariants()


def test_uncertified_ingest_published_as_upper_bounds(scaling_env):
    """An ingest attempt missing the post-write recount barrier can never
    wear certified names — and the family must not vanish either."""
    bs, tmp = scaling_env
    _write_attempts(
        tmp,
        "1",
        [
            _mk_attempt(
                {
                    "ingest_total": 48.7,
                    "ingest_phase_build": 26.6,
                    "ingest_phase_cache_recount": 3.2,
                    # no post-write recount -> uncertifiable
                    "q_a": 1.0,
                }
            )
        ],
    )
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    q = doc["sfs"]["1"]["queries"]
    assert "ingest_total" not in q
    assert q["ingest_total_upper_bound"] == 48.7
    assert "ingest_missing_reason" in doc["sfs"]["1"]
    assert q["q_a"] == 1.0  # non-ingest families kept


def test_certified_ingest_keeps_certified_names(scaling_env):
    bs, tmp = scaling_env
    _write_attempts(
        tmp,
        "1",
        [
            _mk_attempt(
                {
                    "ingest_total": 45.9,
                    "ingest_phase_cache_recount": 3.6,
                    "ingest_phase_cache_recount_post_write": 3.1,
                }
            )
        ],
    )
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    q = doc["sfs"]["1"]["queries"]
    assert q["ingest_total"] == 45.9
    assert not any(k.endswith("_upper_bound") for k in q)


def test_all_out_of_band_ingest_still_leaves_a_trace(scaling_env):
    """VERDICT r9 #3: even when every ingest attempt fails the calibration
    brackets, the composed section must carry flagged upper bounds, not
    silence."""
    bs, tmp = scaling_env
    _write_attempts(
        tmp,
        "10",
        [
            _mk_attempt({"q_a": 3.0}),  # keeps the section alive
            _mk_attempt({"ingest_total": 452.1}, pre=5.0, post=6.0),
        ],
    )
    bs.compose_min("10")
    doc = json.loads((tmp / "SCALING.json").read_text())
    q = doc["sfs"]["10"]["queries"]
    assert q["ingest_total_upper_bound"] == 452.1
    assert "degraded host" in doc["sfs"]["10"]["ingest_missing_reason"]


def test_shrinking_ratio_is_annotated(scaling_env):
    bs, tmp = scaling_env
    _write_attempts(tmp, "1", [_mk_attempt({"q_reb": 6.69})])
    _write_attempts(tmp, "10", [_mk_attempt({"q_reb": 4.19})])
    bs.compose_min("1")
    bs.compose_min("10")
    doc = json.loads((tmp / "SCALING.json").read_text())
    entry = doc["ratios"]["1->10"]["q_reb"]
    assert entry["time_ratio"] < 0.8
    assert "fixed-cost floor" in entry["note"]


def test_idle_disclosure_lands_in_aggregation(scaling_env):
    bs, tmp = scaling_env
    _write_attempts(
        tmp, "1", [_mk_attempt({"q_a": 1.0}, idle={"ingest_write_idle_s": 120.0})]
    )
    bs.compose_min("1")
    doc = json.loads((tmp / "SCALING.json").read_text())
    atts = doc["sfs"]["1"]["aggregation"]["attempts"]
    assert atts[0]["idle"] == {"ingest_write_idle_s": 120.0}


def test_http_floor_gate_quarantines_degraded_refresh(tmp_path, monkeypatch):
    """A refresh whose own pure-Python floor is out of band must not
    overwrite HTTP_BENCH.json."""
    import bench_http as bh

    monkeypatch.setattr(bh, "REPO", tmp_path)  # keep the reject out of the checkout
    stats = {
        "protocol": "t",
        "exact_address": {"avg": 0.05, "p95": 0.1},
        "http_stack_floor_1client": {"avg": 0.0028, "p95": 0.007},
    }
    out = tmp_path / "HTTP_BENCH.json"
    out.write_text("{}")
    reject = tmp_path / ".bench" / "http-bench-rejected.json"
    assert not reject.exists()
    with pytest.raises(SystemExit, match="floor-gate"):
        bh.write_report(stats, 0.1, out_path=out)
    assert out.read_text() == "{}"  # untouched
    assert reject.exists()
    assert "quarantined" in json.loads(reject.read_text())["rejected"]


def test_http_floor_gate_passes_healthy_refresh(tmp_path):
    import bench_http as bh

    stats = {
        "protocol": "t",
        "exact_address": {"avg": 0.05, "p95": 0.1},
        "http_stack_floor_1client": {"avg": 0.0005, "p95": 0.001},
    }
    out = tmp_path / "HTTP_BENCH.json"
    report = bh.write_report(stats, 0.1, out_path=out)
    assert json.loads(out.read_text())["shapes"]["exact_address"]["avg"] == 0.05
    assert report["sf"] == 0.1


# ---- compose-min for the per-round BENCH / HTTP artifacts (VERDICT r10
# #1/#2): every capture appends; published values are minima across
# in-band attempts of byte-identical code -------------------------------


@pytest.fixture()
def compose_env(tmp_path, monkeypatch):
    """Sandbox bench_common's repo root (attempts logs land in tmp) and
    pin the fingerprint (an empty glob set hashes deterministically).

    The capture is pinned to the canonical core count
    (``SPARK_GRAFT_CPUS=CANONICAL_CPUS``): ``write_report`` treats a run at
    any other count as a scaling probe that never writes HTTP_BENCH.json,
    so the compose-protocol tests would otherwise depend on the host's
    core count.  A test that exercises the probe path sets the variable
    itself."""
    import bench_common as bc
    import bench_http as bh

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(bh.CANONICAL_CPUS))
    monkeypatch.setattr(bc, "REPO", tmp_path)
    (tmp_path / ".bench").mkdir()
    return bc, tmp_path


def _bench_attempt(bc, queries, pre=0.85, fp="f0", sf=0.1):
    return {
        "measured_at": "2026-08-16T00:00:00Z",
        "engine_fp": fp,
        "sf": sf,
        "queries": queries,
        "host_calibration_pre": {"calib_memcopy_2gb_s": pre},
    }


def test_bench_compose_minimum_across_inband_attempts(compose_env):
    bc, tmp = compose_env
    log = "bench-attempts-sf0.1.jsonl"
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 0.5, "q_b": 2.0}))
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 1.1, "q_b": 0.9}))
    mins, spread, n, degraded = bc.compose_query_mins(
        bc.load_attempts(log), "f0", 0.1, {"q_a", "q_b"}
    )
    assert mins == {"q_a": 0.5, "q_b": 0.9}  # per-query, not per-attempt
    assert n == 2 and not degraded
    assert spread["q_a"] == {"min": 0.5, "max": 1.1, "n": 2}


def test_bench_compose_excludes_band_edge_hosts(compose_env):
    """The r10 disease: memcopy 1.028 s passed the 1.2 s settle band and
    doubled the committed headline.  Composition's stricter 1.0 s band
    keeps such a capture from defining a value when a clean attempt of
    the same code exists."""
    bc, _ = compose_env
    log = "bench-attempts-sf0.1.jsonl"
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 0.24}, pre=0.9))
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 1.02}, pre=1.028))
    mins, _, n, degraded = bc.compose_query_mins(
        bc.load_attempts(log), "f0", 0.1, {"q_a"}
    )
    assert mins == {"q_a": 0.24} and n == 1 and not degraded


def test_bench_compose_never_mixes_code_versions(compose_env):
    bc, _ = compose_env
    log = "bench-attempts-sf0.1.jsonl"
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 0.1}, fp="OLD"))
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 0.7}, fp="NEW"))
    mins, _, n, _ = bc.compose_query_mins(
        bc.load_attempts(log), "NEW", 0.1, {"q_a"}
    )
    assert mins == {"q_a": 0.7} and n == 1  # OLD's faster sample ignored


def test_bench_compose_never_mixes_core_counts(compose_env):
    """The driver re-runs bench.py at a lower SPARK_GRAFT_CPUS to measure
    per-core scaling; composing that run against the full-host minima
    would publish 32-core numbers under the small-host capture (the
    compose analog of hard-coding the master).  Attempts are keyed by
    core count; pre-field attempts were all captured at 32."""
    bc, _ = compose_env
    log = "bench-attempts-sf0.1.jsonl"
    a32 = _bench_attempt(bc, {"q_a": 0.2})
    a32["cpus"] = 32
    a8 = _bench_attempt(bc, {"q_a": 0.9})
    a8["cpus"] = 8
    legacy = _bench_attempt(bc, {"q_a": 0.3})  # no cpus field -> 32
    for a in (a32, a8, legacy):
        bc.append_attempt(log, a)
    mins8, _, n8, _ = bc.compose_query_mins(
        bc.load_attempts(log), "f0", 0.1, {"q_a"}, cpus=8
    )
    assert mins8 == {"q_a": 0.9} and n8 == 1  # never the 32-core minima
    mins32, _, n32, _ = bc.compose_query_mins(
        bc.load_attempts(log), "f0", 0.1, {"q_a"}, cpus=32
    )
    assert mins32 == {"q_a": 0.2} and n32 == 2  # legacy pooled as 32


def test_http_noncanonical_cpus_never_refreshes_artifact(
    compose_env, monkeypatch
):
    """A scaling probe at SPARK_GRAFT_CPUS != 32 must neither overwrite
    HTTP_BENCH.json nor enter the canonical attempts pool."""
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp1")
    stats = {
        "protocol": "t",
        "exact_address": {"avg": 0.02},
        "http_stack_floor_1client": {"avg": 0.0005},
    }
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    report = bh.write_report(stats, 0.1, out_path=None)
    assert report["shapes"]["exact_address"]["avg"] == 0.02  # still reported
    assert not (tmp / "HTTP_BENCH.json").exists()
    assert bc.load_attempts("http-attempts.jsonl") == []
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    bh.write_report(stats, 0.1, out_path=None)
    assert (tmp / "HTTP_BENCH.json").exists()
    assert len(bc.load_attempts("http-attempts.jsonl")) == 1


def test_bench_compose_degraded_only_disclosed(compose_env):
    bc, _ = compose_env
    log = "bench-attempts-sf0.1.jsonl"
    bc.append_attempt(log, _bench_attempt(bc, {"q_a": 3.0}, pre=1.15))
    mins, _, n, degraded = bc.compose_query_mins(
        bc.load_attempts(log), "f0", 0.1, {"q_a"}
    )
    assert mins == {"q_a": 3.0} and degraded  # published, but flagged


def test_http_refresh_can_only_lower_a_committed_shape(compose_env, monkeypatch):
    """VERDICT r10 #2: the driver's end-of-round HTTP capture replaced a
    settled 0.17x refresh with an in-band-but-2x-slower one.  With the
    compose protocol, writing the canonical artifact after a slower
    same-code capture keeps the better sample per shape."""
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp1")

    def stats(avg):
        return {
            "protocol": "t",
            "exact_address": {"avg": avg, "p50": avg, "p95": avg},
            "http_stack_floor_1client": {"avg": 0.0005},
        }

    bh.write_report(stats(0.024), 0.1, out_path=None)  # settled refresh
    bh.write_report(stats(0.046), 0.1, out_path=None)  # slower, in-band
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    assert doc["shapes"]["exact_address"]["avg"] == 0.024
    # 2 logged attempts + the committed artifact seeding the pool
    assert doc["aggregation"]["n_attempts"] == 3
    assert doc["aggregation"]["shape_source"]["exact_address"]
    # and a genuinely faster refresh lowers it
    bh.write_report(stats(0.020), 0.1, out_path=None)
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    assert doc["shapes"]["exact_address"]["avg"] == 0.020


def test_http_committed_artifact_seeds_pool_after_reset(compose_env, monkeypatch):
    """The attempts log lives in gitignored .bench/, so an environment
    reset wipes it while the committed artifact survives.  The committed
    file records the fp it was composed at; when that matches the current
    code it must re-enter the pool, so a single fresh slower capture still
    cannot replace the better committed record (it happened in r11: a
    cold-JVM capture overwrote every shape ~2x slower at the same fp)."""
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp1")

    def stats(avg):
        return {
            "protocol": "t",
            "exact_address": {"avg": avg, "p50": avg, "p95": avg},
            "http_stack_floor_1client": {"avg": 0.0005},
        }

    bh.write_report(stats(0.024), 0.1, out_path=None)  # settled, committed
    # simulate the environment reset: the pool is gone, the artifact stays
    (tmp / ".bench" / "http-attempts.jsonl").unlink()
    bh.write_report(stats(0.046), 0.1, out_path=None)  # cold-JVM capture
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    assert doc["shapes"]["exact_address"]["avg"] == 0.024
    assert doc["aggregation"]["shape_source"]["exact_address"].startswith(
        "committed:"
    )
    # a committed artifact from DIFFERENT code must never seed: new code
    # has to re-measure, not inherit old numbers
    (tmp / ".bench" / "http-attempts.jsonl").unlink()
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp2")
    bh.write_report(stats(0.046), 0.1, out_path=None)
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    assert doc["shapes"]["exact_address"]["avg"] == 0.046


def test_http_compose_resets_on_engine_change(compose_env, monkeypatch):
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)

    def stats(avg):
        return {
            "protocol": "t",
            "exact_address": {"avg": avg},
            "http_stack_floor_1client": {"avg": 0.0005},
        }

    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fpA")
    bh.write_report(stats(0.01), 0.1, out_path=None)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fpB")
    bh.write_report(stats(0.03), 0.1, out_path=None)
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    # new code: the old (faster) sample is NOT comparable and must not mask
    # a real regression
    assert doc["shapes"]["exact_address"]["avg"] == 0.03


def test_http_out_of_band_capture_still_quarantines(compose_env, monkeypatch):
    """The floor gate composes with — not instead of — the quarantine: a
    degraded capture neither overwrites nor enters the attempts pool."""
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp1")

    good = {
        "protocol": "t",
        "exact_address": {"avg": 0.02},
        "http_stack_floor_1client": {"avg": 0.0005},
    }
    bad = {
        "protocol": "t",
        "exact_address": {"avg": 0.5},
        "http_stack_floor_1client": {"avg": 0.0031},
    }
    bh.write_report(good, 0.1, out_path=None)
    with pytest.raises(SystemExit, match="floor-gate"):
        bh.write_report(bad, 0.1, out_path=None)
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    assert doc["shapes"]["exact_address"]["avg"] == 0.02
    # the degraded capture is not in the eligible pool for later refreshes
    pool = [
        a
        for a in bc.load_attempts("http-attempts.jsonl")
        if a.get("floor_1client") is not None
        and a["floor_1client"] <= bh.FLOOR_BAND_S
    ]
    assert len(pool) == 1


def test_superlinear_ratio_requires_annotation(scaling_env):
    """VERDICT r10 #4: vs_linear > 1.0 rows must be explained.  Known
    output-bound shapes are auto-annotated at compose; any other
    super-linear row fails --verify instead of certifying silently."""
    bs, tmp = scaling_env
    _write_attempts(tmp, "1", [_mk_attempt({"q_policy_warm": 1.0})])
    _write_attempts(tmp, "10", [_mk_attempt({"q_policy_warm": 11.0})])
    bs.compose_min("1")
    bs.compose_min("10")
    doc = json.loads((tmp / "SCALING.json").read_text())
    assert "output-bound" in doc["ratios"]["1->10"]["q_policy_warm"]["note"]
    # a hand-edited (or future unexplained) super-linear row refuses
    doc["ratios"]["1->10"]["q_weird"] = {"time_ratio": 30.0, "vs_linear": 3.0}
    (tmp / "SCALING.json").write_text(json.dumps(doc))
    with pytest.raises(SystemExit, match="vs_linear"):
        bs.verify_invariants()


def test_http_verify_committed_invariant(compose_env, monkeypatch):
    """`bench_http.py --verify`: the committed file must equal its own
    per-shape compose; a hand-lowered pool sample (or a refresh that
    replaced a better one) fails."""
    import bench_http as bh

    bc, tmp = compose_env
    monkeypatch.setattr(bh, "REPO", tmp)
    monkeypatch.setattr(bc, "engine_fingerprint", lambda: "fp1")

    def stats(avg):
        return {
            "protocol": "t",
            "exact_address": {"avg": avg},
            "http_stack_floor_1client": {"avg": 0.0005},
        }

    bh.write_report(stats(0.03), 0.1, out_path=None)
    bh.write_report(stats(0.02), 0.1, out_path=None)
    bh.verify_committed()  # committed == pool min
    # tamper: raise the committed value above the pool min
    doc = json.loads((tmp / "HTTP_BENCH.json").read_text())
    doc["shapes"]["exact_address"]["avg"] = 0.03
    (tmp / "HTTP_BENCH.json").write_text(json.dumps(doc))
    with pytest.raises(SystemExit, match="pool min"):
        bh.verify_committed()
