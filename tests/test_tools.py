"""Meta-tests of the parity gate itself: a gate that cannot fail is
not a gate. These prove `tools/check_parity.compare` flags every drift
class the driver's compare would flag — row count, column set, dtype,
and single-value differences (floats at one ULP included) — and stays
silent on genuinely equal frames regardless of row/column order. The
bench probes, the re-sign ledger and the reach, option and
streaming-API lints are tested here too."""

from __future__ import annotations

import ast
import json
import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import fingerprint  # noqa: E402
from check_parity import canon, compare  # noqa: E402


def _frame(rows, cols):
    return pd.DataFrame(rows, columns=cols)


def test_equal_frames_pass_under_any_order():
    a = _frame([(1, "x", 1.5), (2, "y", 2.5)], ["k", "s", "v"])
    b = _frame([(2, "y", 2.5), (1, "x", 1.5)], ["k", "s", "v"])[["v", "k", "s"]]
    assert compare("t", a, b) == []


def test_row_count_and_value_drift_flagged():
    a = _frame([(1, 1.5), (2, 2.5)], ["k", "v"])
    assert any(
        "row count" in p for p in compare("t", a, _frame([(1, 1.5)], ["k", "v"]))
    )
    drift = _frame([(1, 1.5), (2, 2.5 + 2**-50)], ["k", "v"])
    probs = compare("t", a, drift)
    assert any("mismatching rows" in p for p in probs)


def test_one_ulp_float_difference_is_caught():
    x = 0.1 + 0.2                      # 0.30000000000000004
    y = 0.3                            # one ULP away
    assert x != y
    probs = compare("t", _frame([(x,)], ["v"]), _frame([(y,)], ["v"]))
    assert any("mismatching rows" in p for p in probs)


def test_column_set_and_null_semantics():
    a = _frame([(1, None)], ["k", "v"])
    assert any(
        "columns" in p for p in compare("t", a, _frame([(1,)], ["k"]))
    )
    # NULL == NULL under the sentinel fill; NULL vs value flagged
    # (as a value mismatch or, for an all-NULL object column vs a
    # float column, as a post-canon dtype diff — either way nonempty)
    assert compare("t", a, _frame([(1, None)], ["k", "v"])) == []
    assert compare("t", a, _frame([(1, 0.0)], ["k", "v"])) != []
    c = _frame([(1, 1.5), (2, None)], ["k", "v"])
    probs = compare("t", c, _frame([(1, 1.5), (2, 0.0)], ["k", "v"]))
    assert any("mismatching rows" in p for p in probs)


def test_canon_normalizes_int_widths_and_bools():
    a = _frame([(1, True)], ["k", "b"])
    a["k"] = a["k"].astype("int32")
    b = _frame([(1, 1)], ["k", "b"])
    b["k"] = b["k"].astype("int64")
    b["b"] = b["b"].astype("int64")
    ca, cb = canon(a), canon(b)
    assert ca.equals(cb)
    assert not math.isnan(float(ca["k"].iloc[0]))


def test_deep_dir_hash_is_regeneration_stable(spark, tmp_path):
    """Two independent generations of the same scaled dir must produce
    the SAME content_hash (the round-8 fingerprint bug: hashing part
    FILENAMES, which embed per-write UUIDs, gave bit-identical dirs
    different hashes and broke deep-tier comparability)."""
    from tools.make_sf import make_scaled_sf

    hashes = []
    for sub in ("a", "b"):
        out = str(tmp_path / sub)
        make_scaled_sf("/root/testdata/sf0.001", out, copies=2, spark=spark)
        with open(f"{out}/MANIFEST.json") as fh:
            m = json.load(fh)
        assert m["hash_version"] == 2
        hashes.append(m["content_hash"])
    assert hashes[0] == hashes[1]


def test_bench_environment_probe_shape(monkeypatch):
    """The contamination probe must flag foreign java/pytest processes
    and high load, never flag an idle machine, and never raise."""
    import bench

    probe = bench.environment_probe()
    assert set(probe) >= {"loadavg_1m", "other_procs", "contaminated"}

    # Force the load signal.
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (999.0, 0.0, 0.0))
    assert bench.environment_probe()["contaminated"] is True


def test_bench_probe_ignores_harness_but_flags_runners(monkeypatch):
    """The probe classifies strictly by command position (executable
    basename; script/module slot for python) — never free argv text.
    Both failure modes of the old substring rules are pinned: an
    idle-waiting process whose PROMPT text mentions runner names must
    not flag (round-9 false positive), and a genuinely busy runner must
    flag even when its argument text carries a would-be exemption
    substring (round-10 hardening: the old `'claude -p' in args` escape
    hatch is gone)."""
    import subprocess

    import bench

    def fake_ps(lines):
        class R:
            stdout = "\n".join(lines)

        return lambda *a, **k: R()

    # Only the process signal is under test: pin the host's load low.
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.0, 0.0, 0.0))
    for idle in (
        # prompt text mentions pytest / bench.py / check_parity.py —
        # the executable (sh / some CLI / editor) is not a runner
        "9999 1 /bin/sh -c bash -c 'some-cli -p "
        "--output-format stream-json ... keep pytest green ...'",
        "9999 1 some-agent -p 'run bench.py and check_parity.py please'",
        "9999 1 vim bench.py",
        "9999 1 ps -eo pid=,ppid=,args=",
        "9999 1 python -c print(1)",
    ):
        monkeypatch.setattr(subprocess, "run", fake_ps([idle]))
        assert bench.environment_probe()["contaminated"] is False, idle

    for busy in (
        "9999 1 /usr/lib/jvm/bin/java -cp x org.apache.spark.deploy.SparkSubmit",
        "9999 1 python -m pytest tests/ -x -q",
        "9999 1 /opt/conda/bin/pytest tests",
        "9999 1 python tools/check_parity.py --only foo",
        "9999 1 python bench.py",
        # busy runner whose ARGUMENT text contains the old exemption
        # substring — must still flag
        "9999 1 python -m pytest tests/ -k 'claude -p harness'",
        "9999 1 pytest tests/test_x.py -k 'ps -eo'",
        # value-taking interpreter flags must not eat the script slot
        "9999 1 python -W ignore bench.py",
        "9999 1 python -X faulthandler -m pytest tests",
    ):
        monkeypatch.setattr(subprocess, "run", fake_ps([busy]))
        probe = bench.environment_probe()
        assert probe["contaminated"] is True, busy


def test_bench_probe_exempts_own_ancestry(monkeypatch):
    """The shell that LAUNCHED bench carries 'bench.py' in its args
    (round-9 second false positive) — the ppid chain is exempt; an
    unrelated bench.py still flags."""
    import os
    import subprocess

    import bench

    me = os.getpid()
    # Only the process signal is under test: pin the host's load low.
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.0, 0.0, 0.0))

    def fake_ps(lines):
        class R:
            stdout = "\n".join(lines)

        return lambda *a, **k: R()

    launcher = f"{me + 1} 1 /bin/bash -c python bench.py 2>&1 | tail -3"
    own = f"{me} {me + 1} python bench.py"
    foreign = "77777 1 python bench.py"

    monkeypatch.setattr(subprocess, "run", fake_ps([launcher, own]))
    assert bench.environment_probe()["contaminated"] is False

    monkeypatch.setattr(
        subprocess, "run", fake_ps([launcher, own, foreign])
    )
    assert bench.environment_probe()["contaminated"] is True


def test_bench_mid_run_scan_names_the_foreign_runner(monkeypatch):
    """The mid-run sentinel (round-10: a foreign job landing AFTER a
    clean start probe inflated a contiguous 10-query stretch 4-8×,
    silently) reuses the same strict classifier: a busy runner is
    returned by _scan_other_procs, harness/idle processes are not, and
    the scan never raises even when ps itself fails."""
    import subprocess

    import bench

    def fake_ps(lines):
        class R:
            stdout = "\n".join(lines)

        return lambda *a, **k: R()

    monkeypatch.setattr(
        subprocess, "run", fake_ps(["77777 1 python tools/check_parity.py"])
    )
    hits = bench._scan_other_procs()
    assert hits and "check_parity" in hits[0]

    monkeypatch.setattr(
        subprocess, "run", fake_ps(["77777 1 vim bench.py"])
    )
    assert bench._scan_other_procs() == []

    def boom(*a, **k):
        raise OSError("ps unavailable")

    monkeypatch.setattr(subprocess, "run", boom)
    assert bench._scan_other_procs() == []


def test_bench_sentinel_thread_logs_hits_with_timestamps(monkeypatch):
    """The watcher thread accumulates (timestamp, argv) hits so the
    timing loop can ask which procs overlapped a given run window."""
    import time as _time

    import bench

    monkeypatch.setattr(bench, "_scan_other_procs", lambda: ["java foreign"])
    s = bench._IdleSentinel(interval_s=0.02)
    s.start()
    _time.sleep(0.15)
    s.stop()
    assert s.hits and s.hits[0][1] == ["java foreign"]
    assert s.procs_since(0.0) == ["java foreign"]
    assert s.procs_since(_time.time() + 60) == []

    monkeypatch.setattr(bench, "_scan_other_procs", lambda: [])
    assert s.wait_idle(max_wait_s=1.0) is True


def test_bench_measure_with_retry_redoes_contended_runs():
    """A run that overlapped a foreign busy process is re-measured
    after waiting for idle; only retries exhausted under PERSISTENT
    contention stamp the query into `contended` (a clean re-measure is
    the fix, not a contamination)."""
    import bench

    class FakeSentinel:
        interval_s = 5.0

        def __init__(self, windows_left):
            self.windows_left = windows_left
            self.waits = 0

        def procs_since(self, t0):
            if self.windows_left > 0:
                self.windows_left -= 1
                return ["java foreign"]
            return []

        def wait_idle(self, max_wait_s=180.0):
            self.waits += 1
            return True

    # long-run shape (dt >= 2*interval) so the synchronous edge scan
    # is not consulted
    run_fn = lambda: 10.0  # noqa: E731
    releases = []

    # contention clears after one retry: number kept, nothing stamped
    contended, retries = {}, {}
    s = FakeSentinel(windows_left=1)
    dt = bench._measure_with_retry(
        "q", run_fn, s, lambda: releases.append(1), contended, retries
    )
    assert dt == 10.0 and contended == {} and retries == {"q": 1}
    assert s.waits == 1 and releases

    # persistent contention: bounded attempts, then stamped
    contended, retries = {}, {}
    s = FakeSentinel(windows_left=99)
    dt = bench._measure_with_retry(
        "q", run_fn, s, lambda: None, contended, retries
    )
    assert dt == 10.0 and retries == {"q": 3}
    assert contended == {"q": ["java foreign"]}


def test_bench_steal_probe_triggers_re_measure(monkeypatch):
    """Round 11: a run during which the hypervisor stole >5% of the
    machine is re-measured through the same retry path as a foreign
    process (the sentinel cannot see steal — it is not a process), and
    only a still-stolen final attempt stamps `contended`."""
    import bench

    class IdleSentinel:
        interval_s = 5.0

        def procs_since(self, t0):
            return []

        def wait_idle(self, max_wait_s=180.0):
            return True

    # tick stream: attempt 1 sees 10% steal, attempt 2 runs clean
    ticks = iter([(0, 0), (1000, 10000), (1000, 10000), (1010, 20000)])
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: next(ticks))
    contended, retries = {}, {}
    steal = {"budget": 10, "retries": {}}
    dt = bench._measure_with_retry(
        "q", lambda: 10.0, IdleSentinel(), lambda: None,
        contended, retries, steal_state=steal,
    )
    assert dt == 10.0 and contended == {}
    assert steal["retries"] == {"q": 1} and steal["budget"] == 9

    # persistent steal: bounded attempts, then stamped with the fraction
    monkeypatch.setattr(
        bench, "_cpu_ticks",
        lambda c=iter(range(100)): (next(c) * 1000, next(c) * 10000),
    )
    contended, retries = {}, {}
    steal = {"budget": 10, "retries": {}}
    bench._measure_with_retry(
        "q", lambda: 10.0, IdleSentinel(), lambda: None,
        contended, retries, steal_state=steal,
    )
    assert list(contended) == ["q"] and contended["q"][0].startswith("steal:")

    # exhausted budget: steal no longer triggers retries (numbers are
    # kept; a chronically-stolen boot must not triple the sweep), but the
    # kept number is still stamped with its steal fraction
    monkeypatch.setattr(
        bench, "_cpu_ticks",
        lambda c=iter(range(100)): (next(c) * 1000, next(c) * 10000),
    )
    contended, retries = {}, {}
    steal = {"budget": 0, "retries": {}}
    dt = bench._measure_with_retry(
        "q", lambda: 10.0, IdleSentinel(), lambda: None,
        contended, retries, steal_state=steal,
    )
    assert dt == 10.0 and retries == {} and steal["budget"] == 0
    assert contended == {"q": ["steal:0.100"]}


def test_bench_summary_line_fills_queries_by_cost():
    """Round 11: the stdout line carries as many per-query timings as
    fit under the tail cap, most expensive first; the base fields and
    parseability are never sacrificed."""
    import bench

    base = {"metric": "m", "value": 1.0, "unit": "sec", "n_queries": 3,
            "sec_per_query": 0.3, "sf": 0.1, "queries_detail": "x"}
    timings = {f"query_{i:03d}": float(i) for i in range(200)}
    line = bench._summary_line(dict(base), timings, cap=600)
    assert len(line) <= 600
    parsed = json.loads(line)
    qs = parsed["queries"]
    # most expensive first: every included entry outranks every excluded
    assert qs and max(set(timings) - set(qs), key=lambda k: timings[k]) not in qs
    assert min(qs.values()) >= max(
        v for k, v in timings.items() if k not in qs
    )

    # cap below even one entry: queries dropped entirely, line parseable
    line = bench._summary_line(dict(base), timings, cap=120)
    parsed = json.loads(line)
    assert "queries" not in parsed and parsed["metric"] == "m"


def test_registry_is_the_q_definitions():
    """``queries()`` registers every module-level ``q_*`` function, so each
    one needs an oracle, must be defined in ``__spark_entry__`` itself (an
    imported ``q_*`` name would register a query by accident), and the
    bench's deep and skew tiers may name only registered queries (no
    Spark)."""
    import inspect

    import __spark_entry__ as e
    import bench

    qs = e.queries()
    assert set(qs) == set(e.oracle_sql())
    for name, obj in vars(e).items():
        if name.startswith("q_"):
            assert inspect.isfunction(obj) and obj.__module__ == e.__name__, name
    assert set(bench.DEEP_QUERIES) <= set(qs)
    assert set(bench.SKEW_QUERIES) <= set(qs)


def test_rotation_never_signed_tier_precedes_stale_and_signed():
    """Round-9 tiering: with never-signed + changed-since-signed queries
    together oversubscribing the driver's ~50-row CORRECTNESS window,
    a query with NO green row ever must sort before one that merely
    needs re-signing, and both before currently-signed rows. Verified
    against the real committed artifacts (the invariant is structural,
    not fixture-dependent)."""
    import __spark_entry__ as e

    names = list(e.queries())
    last_signed, stale = e._signing_state()

    def tier(n):
        if n in last_signed:
            return 2
        return 1 if n in stale else 0

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers), (
        "rotation must order tier-0 (never-signed) before tier-1 "
        "(stale signature) before tier-2 (signed)"
    )
    # the ~50-row driver window is filled with never-signed queries
    # first: every window slot up to the tier-0 count is tier-0
    n0 = tiers.count(0)
    assert all(t == 0 for t in tiers[: min(50, n0)]), (
        "a signed/stale query displaced a never-signed one from the "
        "driver window"
    )


@pytest.fixture(scope="module")
def fingerprints():
    return fingerprint.compute()


def test_fingerprint_ledger_is_current(fingerprints):
    """A query whose code changed must re-enter the driver's window, so
    the committed ledger has to match the code (no Spark session)."""
    ledger = json.loads((fingerprint.ROOT / fingerprint.LEDGER).read_text())
    changed = sorted(
        n for n in set(fingerprints) | set(ledger)
        if ledger.get(n, [None])[0] != fingerprints.get(n)
    )
    assert not changed, (
        f"code under {len(changed)} queries changed since {fingerprint.LEDGER}: "
        f"{','.join(changed)} — run `python tools/fingerprint.py`, then "
        "`python tools/check_parity.py --only <the printed names>`"
    )


def test_fingerprints_ignore_checkout_path_and_hash_seed(fingerprints, tmp_path):
    import shutil
    import subprocess

    tree = tmp_path / "tree"
    shutil.copytree(
        fingerprint.ROOT / fingerprint.PKG,
        tree / fingerprint.PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(fingerprint.ROOT / f"{fingerprint.ENTRY}.py", tree)
    (tree / "tools").mkdir()
    shutil.copy(fingerprint.__file__, tree / "tools")
    out = subprocess.run(
        [sys.executable, "-c", "import json, fingerprint; print(json.dumps(fingerprint.compute()))"],
        cwd=tree / "tools",
        env={**os.environ, "PYTHONHASHSEED": "12345"},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert json.loads(out) == fingerprints


def _tiny_query(root, helper_src):
    """(units ``q_a`` reaches, its fingerprint) in a two-module tree."""
    (root / fingerprint.PKG).mkdir(parents=True, exist_ok=True)
    (root / fingerprint.PKG / "__init__.py").write_text("")
    (root / fingerprint.PKG / "mod.py").write_text(helper_src)
    (root / f"{fingerprint.ENTRY}.py").write_text(
        f"from {fingerprint.PKG}.mod import helper\n"
        "def queries():\n    return {}\n"
        "def q_b():\n    return 2\n"
        "def q_a(spark, sf, q_b=None):\n"
        "    queries = helper(sf)\n"
        "    return [q_b for q_b in queries] + [queries, __file__]\n"
    )
    index = fingerprint.Index(root)
    return index.reach(f"{fingerprint.ENTRY}:q_a"), index.fingerprint("q_a", "SELECT 1")


def test_fingerprint_follows_bodies_not_docs_or_shadowed_names(tmp_path):
    helper = 'def helper(x):\n    """Doc."""\n    return x + 1  # note\n'
    reach, fp = _tiny_query(tmp_path, helper)
    # the argument, assignment and comprehension target shadow the
    # module's q_b/queries; __file__ would hash the checkout path
    assert reach == {"__spark_entry__:q_a", "python_etl_mailing_automation_spark.mod:helper"}
    docs = helper.replace("Doc.", "Other doc.").replace("# note", "# other")
    assert _tiny_query(tmp_path, docs)[1] == fp
    assert _tiny_query(tmp_path, helper.replace("x + 1", "x + 2"))[1] != fp


def test_no_query_reaches_another_query():
    """``q_retrieval_e2e`` binds a local ``queries``: resolving it to the
    module's ``queries()`` would hash the whole battery into one query."""
    import __spark_entry__ as e

    index = fingerprint.Index(fingerprint.ROOT)
    for name, fn in e.queries().items():
        own = f"{fingerprint.ENTRY}:{fn.__name__}"
        names = {k.partition(":")[2] for k in index.reach(own) - {own}}
        others = {n for n in names if n.startswith("q_") or n in ("queries", "oracle_sql")}
        assert not others, f"{name} reaches {sorted(others)}"


# --- reach: no package code that nothing needs -----------------------

PRODUCT = "pipeline.runner:run_mailing_job"

# Package units ("module:name" under the package) that neither a query nor
# the product reaches, kept on purpose. Each entry is a root, so the
# helpers it reaches are kept with it.
REACH_ALLOWLIST = (
    # Reference tools: the reference ships these as standalone scripts.
    "config:load_config",  # config_manager.py's INI load (+ its _split_* helpers)
    "session:build_spark",  # the session every harness, tool and test starts from
    "pipeline.audit:audit_output_dir",  # laudo.py's leak audit; perfbench's laudo runs it
    "pipeline.audit:audit_archive",  # laudo.py over the run's zip archive
    "pipeline.audit:find_latest_archive",  # laudo.py's newest-archive lookup
    "pipeline.diagnostics:schema_drift",  # schema.py's drift diff across inputs
    "pipeline.diagnostics:profile_cardinality",  # diagnostico.py's bloq/just profile
    "functions.cleaning:mojibake_repair_udf",  # final_polisher.py's mojibake repair
    "functions.cleaning:mojibake_repair_expr",  # its codegen form, tested against the UDF
    # Test references: the plain form a test checks a product form against.
    "datapipe.tokenizer:bpe_segment",  # per-instance fold that bpe_segment_join must equal
    "datapipe.dedup:simhash_16",  # explode form that with_simhash16 must equal
    "datapipe.sketches:quantile_sketch_query",  # audits quantile_sketch's rank contract
)


def _reach_failures(index, allowlist, product=PRODUCT):
    """One line per package function or class that no ``q_*`` query, not
    *product* and no *allowlist* entry reaches, and one per allowlist
    entry that no longer exists or that a query or *product* reaches."""
    def unit(name):
        return f"{fingerprint.PKG}.{name}"

    queries = [k for k in index.units if k.startswith(f"{fingerprint.ENTRY}:q_")]
    needed = set().union(*map(index.reach, [*queries, unit(product)]))
    kept, failures = set(needed), []
    for name in allowlist:
        if unit(name) not in index.units:
            failures.append(f"{name}: allowlisted, but it no longer exists")
        elif unit(name) in needed:
            failures.append(f"{name}: allowlisted, but a query or the product reaches it")
        else:
            kept |= index.reach(unit(name))
    return failures + [
        f"{key}: reached by no query, not by {product} and not by the allowlist "
        f"({node.end_lineno - node.lineno + 1} lines)"
        for key, node in sorted(index.units.items())
        if key.startswith(fingerprint.PKG) and isinstance(node, fingerprint._DEFS)
        and key not in kept
    ]


def test_every_package_unit_is_needed():
    """Package code that no query checks against the oracle, that the
    product does not run and that no allowlist entry keeps is dead: delete
    it, or allowlist it with its reason (no Spark session)."""
    failures = _reach_failures(fingerprint.Index(fingerprint.ROOT), REACH_ALLOWLIST)
    assert not failures, "\n".join(failures)


def test_reach_lint_names_dead_units_and_stale_entries(tmp_path):
    """In a two-module tree: an unreached function fails and is named, an
    allowlisted one passes, a stale allowlist entry fails."""
    (tmp_path / fingerprint.PKG).mkdir()
    (tmp_path / fingerprint.PKG / "__init__.py").write_text("")
    (tmp_path / fingerprint.PKG / "mod.py").write_text(
        "def helper(x):\n    return x + 1\n"
        "def main():\n    return 0\n"
        "def dead():\n    return helper(2)\n"
    )
    (tmp_path / f"{fingerprint.ENTRY}.py").write_text(
        f"from {fingerprint.PKG}.mod import helper\n"
        "def q_a(spark, sf):\n    return helper(sf)\n"
    )
    index = fingerprint.Index(tmp_path)

    def lint(*allow):
        return _reach_failures(index, allow, product="mod:main")

    mod = f"{fingerprint.PKG}.mod"
    assert lint() == [
        f"{mod}:dead: reached by no query, not by mod:main and not by the allowlist (2 lines)"
    ]
    assert lint("mod:dead") == []
    assert lint("mod:dead", "mod:gone", "mod:helper") == [
        "mod:gone: allowlisted, but it no longer exists",
        "mod:helper: allowlisted, but a query or the product reaches it",
    ]


# --- options: no defaulted parameter that only tests set ---------------

# Files whose calls count as setting an option: the queries, the package
# itself, the bench, the tools and the product benchmark.
CALLERS = (
    f"{fingerprint.ENTRY}.py",
    f"{fingerprint.PKG}/**/*.py",
    "bench.py",
    "tools/*.py",
    "perfbench/*.py",
)

# Defaulted parameters ("module:function(param)" under the package) that
# tests pass and no caller does, kept on purpose: a test runs the
# non-default value as the reference the default is checked against.
OPTION_ALLOWLIST = (
    "pipeline.robot:build_robot_output(strategy)",  # the window path the agg path must equal
    "datapipe.suffix:exact_substr_spans(path)",  # each side of the auto dispatch vs brute
    "datapipe.suffix:longest_dup_run(path)",  # each side of the auto dispatch vs brute
    "datapipe.suffix:cross_corpus_substr(path)",  # each side of the auto dispatch vs brute
    "datapipe.tokenizer:bpe_train(batch_k)",  # batch_k=1 is the sequential reference
    "datapipe.sketches:quantile_sketch_query(key_cols)",  # reads a keyed sketch (test reference)
    "datapipe.prefix:global_running_sums(n_buckets)",  # bucket counts swept against one window
)


def _options(node):
    """The defaulted parameters of a function definition."""
    a = node.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults):]] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _passed(index, root, path):
    """Package function key → parameters that some call in *path* sets,
    by position, by keyword, or by forwarding ``*args``/``**kwargs``."""
    parts = path.relative_to(root).with_suffix("").parts
    mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
    tree = ast.parse(path.read_text())
    scope = dict(index.scope.get(mod, {}))
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            for name, binding in fingerprint._imports(n, index.pkg.get(mod, "")).items():
                scope.setdefault(name, binding)

    def lookup(e):
        if isinstance(e, ast.Attribute):
            base = lookup(e.value)
            return index._follow((base[:-1], e.attr)) if base and base.endswith(":") else None
        return index._follow(scope[e.id]) if isinstance(e, ast.Name) and e.id in scope else None

    got = {}
    for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
        key = lookup(call.func)
        node = index.units.get(key)
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        starred = any(isinstance(x, ast.Starred) for x in call.args)
        sets = got.setdefault(key, set())
        sets.update(pos if starred else pos[: len(call.args)])
        for kw in call.keywords:
            sets.update([*pos, *(p.arg for p in a.kwonlyargs)] if kw.arg is None else [kw.arg])
    return got


def _test_only_options(index, root):
    """``module:function(param)`` for each defaulted parameter of a
    package function that ``tests/`` sets and no ``CALLERS`` file does."""
    def passed(patterns):
        got = {}
        for path in sorted({p for pattern in patterns for p in root.glob(pattern)}):
            for key, params in _passed(index, root, path).items():
                got.setdefault(key, set()).update(params)
        return got

    outside, inside = passed(CALLERS), passed(["tests/*.py"])
    return [
        f"{key[len(fingerprint.PKG) + 1:]}({param})"
        for key, node in sorted(index.units.items())
        if key.startswith(f"{fingerprint.PKG}.")
        and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for param in _options(node)
        if param in inside.get(key, ()) and param not in outside.get(key, ())
    ]


def _option_failures(index, root, allowlist):
    """One line per test-only option not in *allowlist*, and one per
    allowlist entry that is no longer a test-only option."""
    found = _test_only_options(index, root)
    return [
        f"{entry}: allowlisted, but no longer an option that only tests set"
        for entry in allowlist
        if entry not in found
    ] + [
        f"{entry}: only tests set this option — make it a constant, or "
        "allowlist it with its reason"
        for entry in found
        if entry not in allowlist
    ]


def test_every_option_is_set_outside_tests():
    """A defaulted parameter that only tests pass selects a code path no
    query, no product run and no tool takes (no Spark session)."""
    failures = _option_failures(
        fingerprint.Index(fingerprint.ROOT), fingerprint.ROOT, OPTION_ALLOWLIST
    )
    assert not failures, "\n".join(failures)


def test_option_lint_names_test_only_options_and_stale_entries(tmp_path):
    """In a two-module tree: an option only a test passes fails and is
    named, an allowlisted one passes, a stale allowlist entry fails; a
    query's keyword, position or ``**kwargs`` forwarding sets an option."""
    (tmp_path / fingerprint.PKG).mkdir()
    (tmp_path / fingerprint.PKG / "__init__.py").write_text("")
    (tmp_path / fingerprint.PKG / "mod.py").write_text(
        "def f(x, mode='a', flag=False, *, keep=1):\n    return x\n"
        "def g(x, n=2):\n    return x\n"
        "def h(**kw):\n    return g(1, **kw)\n"
    )
    (tmp_path / f"{fingerprint.ENTRY}.py").write_text(
        f"from {fingerprint.PKG} import mod\n"
        f"from {fingerprint.PKG}.mod import f\n"
        "def q_a(spark, sf):\n    return f(sf, 'b') + mod.h()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        f"from {fingerprint.PKG}.mod import f, g\n"
        "def test_f():\n    assert f(1, 'c', True, keep=2) == g(1, n=3)\n"
    )
    index = fingerprint.Index(tmp_path)

    def lint(*allow):
        return _option_failures(index, tmp_path, allow)

    assert lint() == [
        "mod:f(flag): only tests set this option — make it a constant, or "
        "allowlist it with its reason",
        "mod:f(keep): only tests set this option — make it a constant, or "
        "allowlist it with its reason",
    ]
    assert lint("mod:f(flag)", "mod:f(keep)") == []
    assert lint("mod:f(flag)", "mod:f(keep)", "mod:f(mode)", "mod:gone(x)") == [
        "mod:f(mode): allowlisted, but no longer an option that only tests set",
        "mod:gone(x): allowlisted, but no longer an option that only tests set",
    ]


# --- one execution mode: no Structured Streaming ----------------------

# The reference has no streaming, so no operator has a streaming path.
STREAMING_API = {"readStream", "writeStream", "withWatermark", "dropDuplicatesWithinWatermark"}


def _streaming_uses(root, patterns):
    """``path:line .name`` for each Structured Streaming attribute in the
    files matching *patterns* under *root*."""
    return [
        f"{path.relative_to(root)}:{node.lineno} .{node.attr}"
        for path in sorted({p for pattern in patterns for p in root.glob(pattern)})
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in STREAMING_API
    ]


def test_no_streaming_api():
    """No operator, query, bench, tool or test reads a stream, writes a
    stream or sets a watermark (no Spark session)."""
    found = _streaming_uses(
        fingerprint.ROOT,
        [f"{fingerprint.ENTRY}.py", f"{fingerprint.PKG}/**/*.py", "bench.py", "tools/*.py", "tests/*.py"],
    )
    assert not found, "\n".join(found)


def test_streaming_lint_names_each_use(tmp_path):
    (tmp_path / "mod.py").write_text(
        "def f(df):\n    return df.withWatermark('ts', '1 hour')\n"
        "def g(spark):\n    return spark.readStream.load()\n"
        "NAMES = ['readStream']\n"
    )
    assert _streaming_uses(tmp_path, ["*.py"]) == [
        "mod.py:2 .withWatermark",
        "mod.py:4 .readStream",
    ]
