"""Bench harness meta-invariants — cheap structural checks that keep the
benchmark honest without running it: the pinned round-over-round subset
stays frozen inside HEADLINE, every timed name is a registered op, and the
derived amortization ratio (VERDICT r8 item 7) is computed and tracked."""

from __future__ import annotations

import json
import os

import bench
from sqlite_to_clickhouse_spark.registry import all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_names_are_registered_and_contain_pinned():
    q = all_queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert set(bench.PINNED_44) <= set(bench.HEADLINE)
    assert len(bench.PINNED_44) == 44  # frozen: extensions go to HEADLINE


def test_derived_incremental_vs_full_ratio():
    d = bench.derived_ratios(
        {"dedup_fuzzy_minhash": 2.0, "dedup_incremental": 0.5}
    )
    assert d["dedup_incremental_vs_full"] == 0.25 > 0
    # absent inputs -> absent key, never a crash or a zero-division
    assert bench.derived_ratios({}) == {}
    assert bench.derived_ratios({"dedup_fuzzy_minhash": 0.0}) == {}


def test_derived_er_incremental_ratio():
    # From r10 the headline ratio tracks the PERSISTED-index serving op
    # (er_incremental); the index-free re-derive path stays tracked
    # beside it under er_rederive_vs_full.
    d = bench.derived_ratios(
        {"er_clusters": 2.0, "er_incremental": 0.5, "er_incremental_match": 1.0}
    )
    assert d["er_incremental_vs_full"] == 0.25 > 0
    assert d["er_rederive_vs_full"] == 0.5 > 0
    assert bench.derived_ratios({"er_clusters": 0.0}) == {}


def test_committed_scale_ratios_stay_amortized():
    """VERDICT r10 item 7: incremental-vs-full amortization is a SCALE
    claim — the serving path is batch-bounded while the full recompute
    grows with the corpus, so the < 1 ratio must hold at the 10× sweep,
    not just at fixture scale.  tools/scale_check.py emits the two
    ratios to SCALE_RATIOS.json (committed); this pins them."""
    p = os.path.join(_REPO, "SCALE_RATIOS.json")
    assert os.path.exists(p), (
        "SCALE_RATIOS.json missing — run tools/make_scale.py 10 && "
        "python tools/scale_check.py 10 er_incremental er_clusters "
        "dedup_incremental dedup_fuzzy_minhash"
    )
    with open(p) as fh:
        d = json.load(fh)
    assert d["k"] >= 10
    assert 0 < d["er_incremental_vs_full"] < 1.0
    assert 0 < d["dedup_incremental_vs_full"] < 1.0


def _committed_bench_full() -> dict:
    """The round-13 BENCH_FULL.json, kept under a name no bench run writes:
    every ``bench.py`` run overwrites BENCH_FULL.json, so reading that file
    would make these checks depend on the last local run."""
    with open(os.path.join(_REPO, "tests", "data", "BENCH_FULL_r13.json")) as fh:
        return json.load(fh)


def test_committed_bench_full_tracks_the_ratio():
    """A committed bench summary must carry the amortization ratio as a
    positive number (from round 9 on)."""
    full = _committed_bench_full()
    ratio = full.get("derived", {}).get("dedup_incremental_vs_full")
    assert ratio is not None and ratio > 0
    # From r10: the ER serving path reads the PERSISTED catalog index,
    # and the amortization must be a tracked, committed number < 1
    # (VERDICT r9 item 2's done criterion).
    er = full.get("derived", {}).get("er_incremental_vs_full")
    assert er is not None and 0 < er < 1.0


def test_committed_rederive_ratio_under_ceiling():
    """VERDICT r11 item 6 / re-based r13 (VERDICT r12 item 8): the pin
    exists so a full index rebuild cannot silently creep far past a
    one-shot clustering pass.  The r12 ceiling of 1.5 had lost its
    margin — not to build-path bloat but to VARIANCE: both ops sped up
    (bounded levenshtein, shared word relations) until the denominator
    (er_clusters) runs ~1.1-1.4 s at sf0.1, where ±0.2 s of session
    noise is ±0.15 of ratio; the r13 open/close artifacts read
    1.29/1.42 while a deep-warm 4-rep interleave reads median 1.165.
    Re-based DELIBERATELY (the move the original docstring required) to
    < 1.65: ≥15 % above the worst committed-artifact reading, and still
    red on any real ≥40 % rebuild-path regression over the measured
    center."""
    full = _committed_bench_full()
    rederive = full.get("derived", {}).get("er_rederive_vs_full")
    assert rederive is not None and 0 < rederive < 1.65


def test_emit_contract_survives_teardown_noise():
    """VERDICT r11 item 1: BENCH r03/r05/r11 all shipped parsed:null
    because a post-stop JVM thread dumped a ~1.5 KB stack trace AFTER the
    summary JSON, pushing it out of the driver's last-2000-bytes window.
    The fix is ordering — ALL teardown (including a noisy stop()) happens
    before emit_summary_line.  This runs the real emission path in a
    subprocess with an injected teardown writer that spews a 1.6 KB fake
    IllegalStateException trace to BOTH fds, then asserts the driver's
    exact parse recipe (final JSON line of the last 2000 bytes of
    combined output) recovers the summary."""
    import subprocess
    import sys as _sys

    script = r"""
import json, sys
sys.path.insert(0, %r)
import bench

TRACE = "\n".join(
    ["ERROR StateStore: error in maintenance thread",
     "java.lang.IllegalStateException: SparkEnv already stopped"]
    + ["\tat org.apache.spark.sql.execution.streaming.state.X.run(X.scala:%%d)" %% i
       for i in range(30)]
)

class _NoisySpark:
    class _SC:
        def setLogLevel(self, lvl):
            raise RuntimeError("context already gone")
    sparkContext = _SC()
    def stop(self):
        print(TRACE)                      # the r11 failure wrote to stdout
        print(TRACE, file=sys.stderr)     # and log4j noise goes to stderr

bench._teardown_quietly(_NoisySpark())
bench.emit_summary_line(json.dumps(
    {"metric": "headline_queries_total", "value": 1.23, "unit": "sec",
     "queries": {}, "sf": 0.01}))
""" % (_REPO,)
    out = subprocess.run(
        [_sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout.decode()[-2000:]
    tail = out.stdout[-2000:].decode("utf-8", "replace")
    parsed = None
    for ln in reversed(tail.splitlines()):
        ln = ln.strip()
        if ln.startswith("{"):
            try:
                parsed = json.loads(ln)
                break
            except json.JSONDecodeError:
                continue
    assert parsed is not None, f"no JSON line in tail: {tail!r}"
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 1.23
    # and the contract is strict: the summary is the literal LAST line.
    assert out.stdout.decode().rstrip().splitlines()[-1].startswith(
        '{"metric": "headline_queries_total"'
    )


def test_host_probe_positive_and_parameterized():
    """The canary must be a pure-CPU measurement: positive, finite, and
    scaling roughly with the work (not constant-time)."""
    t = bench.host_speed_probe(mib=8, passes=1)
    assert 0 < t < 10


def test_bench_compare_measures_host_speed_delta(tmp_path):
    """r12: three rounds of phantom uniform bench lifts were argued away
    as 'host-load signature' by inference — guest load average cannot
    see hypervisor co-tenant steal on this microVM.  With both
    artifacts carrying derived.host_probe_sec, bench_compare must turn
    the inference into a measurement: a uniform 1.4x query lift
    alongside a 1.4x probe lift classifies as host-explained (exit 0),
    and the probe line is printed."""
    import subprocess
    import sys as _sys

    qs = {f"q{i}": 0.5 + i * 0.01 for i in range(20)}
    old = {"queries": qs, "derived": {"host_probe_sec": 0.20}}
    new = {
        "queries": {k: round(v * 1.4, 4) for k, v in qs.items()},
        "derived": {"host_probe_sec": 0.28},
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    r = subprocess.run(
        [_sys.executable, os.path.join(_REPO, "tools", "bench_compare.py"),
         str(po), str(pn)],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "host probe" in r.stdout
    assert "fully explained" in r.stdout
    # without probes the old inference-only wording must still appear
    old.pop("derived"); new.pop("derived")
    po.write_text(json.dumps(old)); pn.write_text(json.dumps(new))
    r2 = subprocess.run(
        [_sys.executable, os.path.join(_REPO, "tools", "bench_compare.py"),
         str(po), str(pn)],
        capture_output=True, text=True, timeout=60,
    )
    assert r2.returncode == 0
    assert "host-load signature" in r2.stdout


def test_host_probe_mt_positive():
    """The multicore canary must behave like its 1-thread twin: positive,
    finite, pure-CPU."""
    t = bench.host_speed_probe_mt(mib=4, passes=1, threads=4)
    assert 0 < t < 10


def test_bench_compare_prefers_multicore_probe(tmp_path):
    """r12: two same-tree benches read 188 s vs 210 s while the 1-thread
    probe IMPROVED — co-tenant steal throttles aggregate multicore
    throughput without touching a lone thread, and queries are multicore
    work.  When both artifacts carry host_probe_mt_sec, bench_compare
    must normalize by the MULTICORE ratio: a uniform 1.4x query lift with
    a flat 1-thread probe but a 1.4x mt probe classifies host-explained."""
    import subprocess
    import sys as _sys

    qs = {f"q{i}": 0.5 + i * 0.01 for i in range(20)}
    old = {
        "queries": qs,
        "derived": {"host_probe_sec": 0.20, "host_probe_mt_sec": 0.50},
    }
    new = {
        "queries": {k: round(v * 1.4, 4) for k, v in qs.items()},
        "derived": {"host_probe_sec": 0.20, "host_probe_mt_sec": 0.70},
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    r = subprocess.run(
        [_sys.executable, os.path.join(_REPO, "tools", "bench_compare.py"),
         str(po), str(pn)],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "host probe(mt)" in r.stdout
    assert "fully explained" in r.stdout


def test_bench_compare_unmasks_regression_on_faster_host(tmp_path):
    """Review r12: gating the verdict on the RAW median would let a host
    that got FASTER between runs hide a uniform code regression as
    'within noise'.  Probes 0.28 -> 0.20 (host 1.4x faster) with flat
    query ratios must classify as a NOT-host-explained uniform lift."""
    import subprocess
    import sys as _sys

    qs = {f"q{i}": 0.5 + i * 0.01 for i in range(20)}
    old = {"queries": qs, "derived": {"host_probe_sec": 0.28}}
    new = {"queries": dict(qs), "derived": {"host_probe_sec": 0.20}}
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    r = subprocess.run(
        [_sys.executable, os.path.join(_REPO, "tools", "bench_compare.py"),
         str(po), str(pn)],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "host does NOT explain" in r.stdout
    assert "within noise" not in r.stdout
