"""Unit tests for the round-protocol tooling itself — the certification
ledger, the foreign-cwd gate sim's comparator, and the gate-subset
proposal.  These tools gate what the judge sees; a silent
classification bug here mislabels certification status for every
round after it, so they get the same test discipline as operators."""

from __future__ import annotations

import json
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo/tools")

import cert_ledger
import driver_gate_sim
import gate_subset


# ---------------------------------------------------------------- ledger
def test_ledger_strict_green_requires_all_three_and_no_err():
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    assert cert_ledger.strict_green(green)
    for broken in (
        {**green, "rows_match": False},
        {**green, "schema_match": None},
        {**green, "hash_match": False},
        {**green, "err": "boom"},
    ):
        assert not cert_ledger.strict_green(broken)


def test_ledger_rows_only_is_the_driver_no_oracle_format():
    # the exact shape CORRECTNESS_r01-r05 recorded for ML queries
    row = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": 7500,
        "oracle_rows": None,
        "err": "no_oracle",
    }
    assert cert_ledger.rows_only_row(row)
    # a REAL error row is never rows-only (spark_rows missing)
    red = {**row, "spark_rows": None, "err": "TypeError: unhashable"}
    assert not cert_ledger.rows_only_row(red)
    assert not cert_ledger.strict_green(red)


def test_ledger_cli_reconciles_committed_artifacts():
    """End-to-end over the real CORRECTNESS_r*.json history: the five
    buckets must partition the registry exactly, and the strict count
    must match the judge-verified 132 (pre-r8 gate — grows
    monotonically as later rounds land, hence >=)."""
    out = subprocess.run(
        [sys.executable, "/root/repo/tools/cert_ledger.py", "--json"],
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
    )
    rep = json.loads(out.stdout)
    assert rep["registry_total"] == (
        rep["driver_green_strict"]
        + rep["driver_executed_rows_only"]
        + rep["never_driver_checked"]
        + len(rep["regressed"])
        + len(rep["red_latest"])
    )
    assert rep["driver_green_strict"] >= 132


def test_ledger_regressed_names_leave_the_strict_count(tmp_path):
    """A query strict-green in one round but red in its LATEST row must
    move to the 'regressed' bucket, not stay in the headline strict
    count (review r8: any-round membership double-counted it into both
    strict and red-latest, breaking the partition)."""
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 5,
        "oracle_rows": 5,
        "err": None,
    }
    red = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": "TypeError: boom",
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"q": green}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"q": red}))
    sys.path.insert(0, "/root/repo/tools")
    from _common import scan_correctness

    rows = list(scan_correctness(str(tmp_path / "CORRECTNESS_r*.json")))
    assert rows == [(1, "q", green), (2, "q", red)]
    # classification mirrors cert_ledger.main's bucket logic
    assert cert_ledger.strict_green(green)
    assert not cert_ledger.strict_green(red)
    assert not cert_ledger.rows_only_row(red)


# ------------------------------------------------------------- gate sim
def test_gatesim_compare_float_exact():
    a = np.array([1.5, float("nan"), -0.25])
    assert driver_gate_sim.compare_column(a, a.copy())
    b = np.array([1.5, float("nan"), -0.25000001])
    assert not driver_gate_sim.compare_column(a, b)


def test_gatesim_compare_object_with_none_does_not_raise():
    """ADVICE r7: an object column holding None must produce a clean
    verdict, not a TypeError from .astype(float)."""
    a = np.array([1.0, None, 3.0], dtype=object)
    b = np.array([1.0, None, 3.0], dtype=object)
    assert driver_gate_sim.compare_column(a, b)
    # mixed dtypes (object vs float) take the STRING compare — never
    # the numeric branch — so the None row decides cleanly as a FAIL
    f = np.array([1.0, 2.0, 3.0])
    assert not driver_gate_sim.compare_column(a, f)


def test_gatesim_compare_never_masks_none_as_nan():
    """review r8: pd.to_numeric silently coerces None to NaN, which made
    a Spark NULL vs oracle NaN divergence compare as a match under
    equal_nan.  The numeric branch now requires BOTH sides float-dtyped;
    an object column with None against a float NaN column must FAIL."""
    a = np.array([1.0, None], dtype=object)
    b = np.array([1.0, float("nan")])
    assert not driver_gate_sim.compare_column(a, b)


def test_gatesim_compare_int_vs_float_is_numeric():
    """ADVICE r8: an int64-vs-float64 pair (DuckDB BIGINT vs Spark
    DOUBLE for a value-equal column) must take the exact numeric branch
    — neither dtype can hold None, so there is no masking risk, and the
    string path would false-FAIL on '5' vs '5.0' without predicting the
    driver's verdict."""
    a = np.array([5, 7, -2], dtype=np.int64)
    b = np.array([5.0, 7.0, -2.0])
    assert driver_gate_sim.compare_column(a, b)
    assert driver_gate_sim.compare_column(b, a)
    c = np.array([5.0, 7.0, -2.5])
    assert not driver_gate_sim.compare_column(a, c)


def test_gatesim_rows_only_rows_use_the_driver_shape():
    """review r8: a rows-only row in a sim --out artifact must carry the
    driver's no_oracle format (null flags + err='no_oracle') so
    cert_ledger can never classify it as a strict oracle pass."""
    row = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": 42,
        "oracle_rows": None,
        "err": "no_oracle",
    }
    assert cert_ledger.rows_only_row(row)
    assert not cert_ledger.strict_green(row)
    # and the sim source emits exactly that shape
    import inspect

    src = inspect.getsource(driver_gate_sim.main)
    assert 'err="no_oracle"' in src


def test_gatesim_canon_sorts_columns_and_rows():
    df = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    out = driver_gate_sim.canon(df)
    assert list(out.columns) == ["a", "b"]
    assert out["a"].tolist() == ["x", "y"]


def test_gatesim_rejects_unknown_query_names():
    out = subprocess.run(
        [
            sys.executable,
            "/root/repo/tools/driver_gate_sim.py",
            "definitely_not_a_query",
        ],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    assert out.returncode == 2
    assert "unknown queries" in out.stderr


# ---------------------------------------------------------- gate subset
@pytest.fixture(scope="module")
def entrymod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_subset_proposal_shape(entrymod):
    names = gate_subset.proposal(50)
    qs = entrymod.queries()
    assert len(names) == 50
    assert len(set(names)) == 50
    assert all(n in qs for n in names)


def test_gate_subset_prioritizes_never_checked_oracled(entrymod):
    """Every oracled never-driver-checked name must appear before any
    already-checked rotation filler (the core excepted) — asserted
    POSITIONALLY, not as set containment (review r8: a regression that
    appends fillers first would otherwise pass)."""
    import glob

    names = gate_subset.proposal(50)
    checked = set()
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        checked |= set(json.load(open(path)))
    oracled = set(entrymod.oracle_sql())
    never_oracled = sorted(
        n for n in entrymod.queries() if n not in checked and n in oracled
    )
    non_core = [n for n in names if n not in gate_subset.STABLE_CORE]
    capacity = len(non_core)
    expect = never_oracled[:capacity]
    # the non-core slots must BE the alphabetical never-checked oracled
    # prefix, in order, before any filler appears
    assert non_core[: len(expect)] == expect
    fillers = [n for n in non_core if n in checked]
    if fillers and expect:
        first_filler = names.index(fillers[0])
        last_expected = names.index(expect[-1])
        assert last_expected < first_filler


# ------------------------------------------------------------ plan audit


def test_shuffle_count_dedups_plan_ids_and_keeps_idless_exchanges():
    """Pure plan-text checks of the shuffle counter: a repeated plan_id
    (a cached definition reprinted at each scan) counts once, and an
    exchange printed without a plan_id still counts when others carry
    one."""
    import plan_audit

    ex = "+- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS"
    repeated = "\n".join([f"{ex}, [plan_id=7]"] * 3)
    assert plan_audit._count_shuffle_exchanges(repeated) == 1

    mixed = "\n".join(
        [f"{ex}, [plan_id=7]", f"{ex}, [plan_id=7]", f"{ex}, [plan_id=9]", ex, ex]
    )
    assert plan_audit._count_shuffle_exchanges(mixed) == 4

    idless = "\n".join([ex, "+- Project [k#1]", ex, ex])
    assert plan_audit._count_shuffle_exchanges(idless) == idless.count(
        "Exchange hashpartitioning"
    ) == 3
