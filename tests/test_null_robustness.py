"""Adversarial-data regression gate over ``duckdb_hdfs_spark.audit``.

Default lane: every class's pinned keys, each through ``audit.check``
on a perturbed copy built once per class.  Slow lane (``-m slow``):
each class over the full registry, whose red set must equal the
recorded one — a new red key and a newly fixed key both fail.

The pinned tests keep the ids they had when each class had its own
fixture and test function: :func:`_pinned` builds one parametrized test
per (class, check) pair.
"""

from __future__ import annotations

import duckdb
import pytest

from duckdb_hdfs_spark import audit
from duckdb_hdfs_spark.queries import load_all


@pytest.fixture(scope="session")
def audit_check(spark, sf_dir, tmp_path_factory):
    """``(class, key) -> audit.check(...)``, building each class's
    copies on first use and checking each key once, so a class's
    parity and invariance tests share one check."""
    dirs: dict[str, audit.Dirs] = {}
    results: dict[tuple[str, str], list] = {}

    def get(cls: str, key: str) -> list:
        if cls not in dirs:
            dirs[cls] = audit.build(cls, sf_dir, str(tmp_path_factory.mktemp(cls)))
        if (cls, key) not in results:
            results[cls, key] = audit.check(spark, cls, key, dirs[cls])
        return results[cls, key]

    return get


def _pinned(cls: str, keys=None, slot: int = 0):
    """A test over ``keys`` (default: the class's pinned keys) asserting
    ``audit.check`` result ``slot``: 0 parity or both-raise, 1 invariance."""

    @pytest.mark.parametrize("name", audit.CLASSES[cls].pinned if keys is None else keys)
    def test(name, audit_check):
        result = audit_check(cls, name)[slot]
        assert result.ok, str(result)

    return test


def _ruled(cls: str, under_rule: bool) -> list[str]:
    rule = audit.CLASSES[cls].rule
    return [k for k in audit.CLASSES[cls].pinned if (k in rule.keys) == under_rule]


test_null_injected_parity = _pinned("null")
test_tiny_data_parity = _pinned("tiny")
test_unicode_injected_parity = _pinned("unicode")
test_extreme_values_parity = _pinned("extreme")
test_extreme_values_domain_bound_raises_on_both_engines = _pinned(
    "extreme", sorted(audit.CLASSES["extreme"].both_raise)
)
test_vertical_tab_injected_parity = _pinned("ws")
test_zero_row_parity = _pinned("empty")
test_timestamp_extremes_parity = _pinned("ts_extreme")
test_constant_data_parity = _pinned("const")
test_single_row_parity = _pinned("onerow")
test_all_null_parity = _pinned("allnull")
test_duplicated_rows_parity = _pinned("dup")
test_negative_measures_parity = _pinned("negative")
test_ragged_raw_parity = _pinned("ragged", _ruled("ragged", False))
test_ragged_dim_enforced_parity = _pinned("ragged", _ruled("ragged", True))
test_date_extremes_parity = _pinned("date_extreme")
test_malformed_json_parity = _pinned("json")
test_naninf_finite_measures_parity = _pinned("naninf")
test_roworder_parity = _pinned("roworder")
test_roworder_invariance = _pinned("roworder", slot=1)
test_filesplit_parity = _pinned("filesplit")
test_filesplit_invariance = _pinned("filesplit", slot=1)
test_schema_drift_parity = _pinned("schemadrift")
test_schema_drift_invariance = _pinned("schemadrift", slot=1)


@pytest.mark.parametrize("cls", audit.CLASSES)
def test_class_is_current(cls):
    """Every key a class names is a registry key — a renamed operator
    would silently drop its audit coverage."""
    c = audit.CLASSES[cls]
    named = set(c.pinned) | c.both_raise | c.skip | (c.invariance or set())
    named |= (c.rule.keys or set()) if c.rule else set()
    assert named - set(load_all()) == set()


def test_naninf_rule_lists_are_current(sf_dir):
    """Every column the naninf class injects into is DOUBLE in the real
    testdata schema."""
    con = duckdb.connect()
    for t, (_key, cols) in audit._NANINF_MEASURES.items():
        desc = {
            c: ty
            for c, ty, *_ in con.execute(
                f"DESCRIBE SELECT * FROM '{sf_dir}/{t}.parquet'"
            ).fetchall()
        }
        for c in cols:
            assert desc.get(c) == "DOUBLE", (t, c, desc.get(c))
    con.close()


def test_fold_lower_cross_engine(spark):
    """fold_lower must yield byte-identical output on both engines
    for the special-cased codepoints that break bare lower()."""
    from pyspark.sql import functions as F

    from duckdb_hdfs_spark.functions.hashing import fold_lower, fold_lower_sql

    got = (
        spark.createDataFrame([(audit.NASTY,)], "t string")
        .select(fold_lower(F.col("t")))
        .collect()[0][0]
    )
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {fold_lower_sql('?')}", [audit.NASTY]
    ).fetchone()[0]
    con.close()
    assert got == want


def test_cli_rejects_unknown_names(capsys):
    """A typo must fail loudly, never sweep nothing and exit 0."""
    for argv, name in ((["empty", "no_such_key"], "no_such_key"), (["no_such_class"], "no_such_class")):
        with pytest.raises(SystemExit) as exc:
            audit.main(argv)
        assert exc.value.code != 0
        assert name in capsys.readouterr().err


def test_cli_fails_a_sweep_that_checks_nothing(capsys):
    # fs_ls is a real key, but the filesplit class skips it
    assert audit.main(["filesplit", "fs_ls"]) == 1
    assert "FAIL filesplit" in capsys.readouterr().out


#: class -> keys red on a full-registry sweep at sf0.001, each a bound
#: the README documents; every other class sweeps all green
RECORDED_RED: dict[str, set[str]] = {}


@pytest.mark.slow
@pytest.mark.parametrize("cls", audit.CLASSES)
def test_full_registry_sweep(cls, audit_check):
    red = {
        r.name
        for key in audit.sweep_keys(cls, load_all())
        for r in audit_check(cls, key)
        if not r.ok
    }
    assert red == RECORDED_RED.get(cls, set())
