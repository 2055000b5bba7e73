"""Pin the driver-sample order of ``__spark_entry__.queries()``.

The verification driver samples the first 50 catalog entries each round.
``sample_order()`` puts first every query whose fingerprint differs from
the one recorded in ``workloads/verified.json`` when a round verified it
(or that no round verified). A regression here would silently re-verify
old queries and starve changed ones of driver evidence.
"""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import pkgutil
import re
import subprocess
import sys
from types import MappingProxyType

import numpy as np

import orca_ztbus_python_processor_spark as pkg
from orca_ztbus_python_processor_spark.functions import ranks
from orca_ztbus_python_processor_spark.workloads import base, textops
from orca_ztbus_python_processor_spark.workloads.base import (
    VERIFIED_JSON,
    fingerprints,
    merged_catalog,
    sample_order,
)
from scripts.record_verified import sampled
from tests.conftest import REPO_ROOT, SMOKE_SF_DIR

RECORD_COMMAND = "python scripts/record_verified.py CORRECTNESS_rNN.json REV"


def _recorded() -> dict:
    with open(VERIFIED_JSON) as f:
        return json.load(f)


def _front(order: tuple[str, ...]) -> list[str]:
    """The queries whose current fingerprint is not the recorded one."""
    recorded, current = _recorded()["fingerprints"], fingerprints(merged_catalog())
    return [n for n in order if recorded.get(n) != current[n]]


def test_unverified_queries_fill_the_sample_window():
    order = sample_order()
    front = _front(order)
    # Every changed or never-verified query sorts ahead of every other.
    assert list(order[: len(front)]) == front
    # The driver samples 50: nothing unverified may be pushed past the
    # window. If this trips, a round has to pass before changing more.
    assert len(front) <= 50, (
        f"{len(front)} unverified queries exceed the 50-entry driver "
        "sample window; some would never get driver evidence"
    )


def test_oracle_paired_sort_before_rows_only_within_groups():
    order, oracles = sample_order(), merged_catalog().oracles
    front = _front(order)
    for group in (front, order[len(front):]):
        paired = [n in oracles for n in group]
        assert paired == sorted(paired, reverse=True), "rows-only query before an oracle-paired one"


def test_every_catalog_query_is_documented_in_coverage():
    """COVERAGE.md is the judge-facing operator map: every catalog
    query name must appear in it (backticked), so additions cannot
    silently skip documentation."""
    with open(os.path.join(REPO_ROOT, "COVERAGE.md")) as f:
        documented = set(re.findall(r"`([a-z0-9_]+)`", f.read()))
    missing = [n for n in merged_catalog().queries if n not in documented]
    assert not missing, f"undocumented catalog queries: {missing}"


def test_every_correctness_round_is_recorded():
    rounds = sorted(
        int(m.group(1))
        for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", path))
    )
    missing = sorted(set(rounds) - set(_recorded()["rounds"]))
    assert not missing, (
        f"rounds {missing} are not in workloads/verified.json; record each, "
        f"in order, with `{RECORD_COMMAND}` (REV: the revision the round ran)"
    )


def test_helper_edit_moves_query_to_front(monkeypatch, tmp_path):
    # Record every query as verified in its current form, then edit a
    # helper customer_value_deciles reaches only through
    # with_global_ntiles_cuts, never by name.
    verified = tmp_path / "verified.json"
    verified.write_text(json.dumps({"rounds": [], "fingerprints": fingerprints(merged_catalog())}))
    monkeypatch.setattr(base, "VERIFIED_JSON", str(verified))
    order = sample_order.__wrapped__()
    assert order.index("q1_pricing_summary") < order.index("customer_value_deciles")
    code = ranks._key_base.__code__
    monkeypatch.setattr(ranks._key_base, "__code__", code.replace(co_consts=code.co_consts + ("edit",)))
    order = sample_order.__wrapped__()
    assert order.index("customer_value_deciles") < order.index("q1_pricing_summary")


def test_constant_table_edit_moves_reader_to_front(monkeypatch, tmp_path):
    # Record every query as verified, then change one value of a frozen
    # constant table that stratified_sample_profile reads.
    verified = tmp_path / "verified.json"
    verified.write_text(json.dumps({"rounds": [], "fingerprints": fingerprints(merged_catalog())}))
    monkeypatch.setattr(base, "VERIFIED_JSON", str(verified))
    order = sample_order.__wrapped__()
    assert order.index("q1_pricing_summary") < order.index("stratified_sample_profile")
    edited = MappingProxyType({**textops._SAMPLE_THRESHOLDS, "src1": "41"})
    monkeypatch.setattr(textops, "_SAMPLE_THRESHOLDS", edited)
    order = sample_order.__wrapped__()
    assert order.index("stratified_sample_profile") < order.index("q1_pricing_summary")


def test_only_run_time_caches_are_mutable_module_globals():
    """Constant tables are tuples, ``MappingProxyType`` or read-only
    arrays, so ``fingerprints`` hashes their data and no caller can
    edit them; the only mutable module globals are the run-time
    caches."""
    merged_catalog()
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(mod.name)
    mutable = {
        f"{name.rpartition('.')[2]}.{k}"
        for name, mod in list(sys.modules.items())
        if name.partition(".")[0] == pkg.__name__
        for k, v in vars(mod).items()
        if not k.startswith("__")
        and (
            isinstance(v, (dict, list, set, bytearray))
            or (isinstance(v, np.ndarray) and v.flags.writeable)
        )
    }
    assert mutable == {"parquet._TABLE_MEMO", "session._SHIPPED_APP_IDS"}


# Entry points kept for the windowed-stream serving path (ROADMAP
# direction 1), which no caller drives yet.
_UNREFERENCED_ALLOWED = frozenset(
    {"streaming/simulator.window_trigger_stream", "sources/sinks.write_results"}
)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _names_outside_own_def(tree: ast.Module, tests: bool) -> set[str]:
    """Names a module mentions, leaving out each top-level definition's
    mentions of itself. Test modules count only imports and attribute
    references, so a test's local variable names nothing."""
    names: set[str] = set()
    for stmt in tree.body:
        found: set[str] = set()
        for node in ast.walk(stmt):
            if isinstance(node, ast.alias):
                found.add(node.name.rpartition(".")[2])
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.Name) and not tests:
                found.add(node.id)
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            found.discard(stmt.name)
        names |= found
    return names


def test_every_top_level_definition_is_named_somewhere():
    """Every undecorated top-level function or class in the package is
    named outside its own ``def``: by package code, ``scripts/``,
    ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, or by an
    import or attribute reference in ``tests/``."""
    pkg_dir = os.path.dirname(pkg.__file__)
    pkg_trees = {
        os.path.relpath(p, pkg_dir)[: -len(".py")]: _parse(p)
        for p in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)
    }
    other_code = [
        *glob.glob(os.path.join(REPO_ROOT, "scripts", "*.py")),
        *glob.glob(os.path.join(REPO_ROOT, "perfbench", "**", "*.py"), recursive=True),
        os.path.join(REPO_ROOT, "bench.py"),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
    ]
    named = set().union(
        *(_names_outside_own_def(t, tests=False) for t in pkg_trees.values()),
        *(_names_outside_own_def(_parse(p), tests=False) for p in other_code),
        *(
            _names_outside_own_def(_parse(p), tests=True)
            for p in glob.glob(os.path.join(REPO_ROOT, "tests", "*.py"))
        ),
    )
    unnamed = {
        f"{module}.{stmt.name}"
        for module, tree in pkg_trees.items()
        for stmt in tree.body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not stmt.decorator_list
        and stmt.name not in named
    }
    assert unnamed - _UNREFERENCED_ALLOWED == set()
    assert _UNREFERENCED_ALLOWED - unnamed == set(), "stale allowlist entry"


_PRINT_FINGERPRINTS = """
import json, sys
sys.path.insert(0, {repo!r})
from orca_ztbus_python_processor_spark.workloads.base import fingerprints, merged_catalog
print(json.dumps(fingerprints(merged_catalog())))
"""


def test_fingerprint_does_not_depend_on_hash_seed():
    runs = []
    for seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        proc = subprocess.run(
            [sys.executable, "-c", _PRINT_FINGERPRINTS.format(repo=REPO_ROOT)],
            cwd="/tmp",
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        runs.append(json.loads(proc.stdout.splitlines()[-1]))
    # The pytest process has run other tests' queries by now, so this
    # also checks that run-time caches stay out of the hash.
    assert runs[0] == runs[1] == fingerprints(merged_catalog())


def test_fingerprint_ignores_run_time_state(spark):
    # Running queries fills module caches (parquet._TABLE_MEMO) and a
    # Processor's Column memo; neither is code.
    cat = merged_catalog()
    before = fingerprints(cat)
    for name in ("q1_pricing_summary", "registry_fused_minute", "ztbus_fused_minute"):
        cat.queries[name](spark, SMOKE_SF_DIR).collect()
    assert fingerprints(cat) == before


def _round_folded(round_no: int) -> None:
    """Every query round ``round_no`` verified has a recorded
    fingerprint, so it sorts behind the front group unless its code
    changed since."""
    with open(os.path.join(REPO_ROOT, f"CORRECTNESS_r{round_no:02d}.json")) as f:
        rows = json.load(f)
    cat, recorded = merged_catalog(), _recorded()
    assert round_no in recorded["rounds"]
    names = {n for n, row in rows.items() if sampled(row) and n in cat.queries}
    assert names
    assert names <= set(recorded["fingerprints"])


def test_r5_sample_folded_into_back_group():
    _round_folded(5)


def test_r6_sample_folded_into_back_group():
    _round_folded(6)


def test_r7_sample_folded_into_back_group():
    _round_folded(7)


def test_r8_sample_folded_into_back_group():
    _round_folded(8)


def test_r9_sample_folded_into_back_group():
    _round_folded(9)


def test_r10_sample_folded_into_back_group():
    _round_folded(10)


def test_r11_sample_folded_into_back_group():
    _round_folded(11)


def test_r12_sample_folded_into_back_group():
    _round_folded(12)
