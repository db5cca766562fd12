"""Registry contract: driver-window priority ordering.

The driver's correctness gate hashes only the first 50 ``queries()``
entries (observed in CORRECTNESS_r01/r02), so ``plans/__init__.py``
rotates a PRIORITY list per round. These tests pin that contract so a
typo'd name or a silent registry change can't quietly shrink driver
verification coverage again (r2 verdict "What's wrong" #3).
"""

from __future__ import annotations

from lms_erp_data_integration_spark import plans
from lms_erp_data_integration_spark.plans import registry

DRIVER_WINDOW = 50


def test_priority_names_all_registered():
    missing = [n for n in registry.PRIORITY if n not in plans.QUERIES]
    assert not missing, f"PRIORITY names not in registry: {missing}"


def test_priority_fills_driver_window_exactly():
    assert len(registry.PRIORITY) == DRIVER_WINDOW
    assert len(set(registry.PRIORITY)) == DRIVER_WINDOW, "duplicates"


def test_all_queries_orders_priority_first_and_drops_nothing():
    names = list(plans.all_queries())
    assert names[:DRIVER_WINDOW] == registry.PRIORITY
    assert sorted(names) == sorted(plans.QUERIES), "reordering lost queries"


def test_changed_queries_enter_driver_window():
    """Rotation policy (r3 verdict #9): any query whose plan function
    or oracle SQL changed since its last driver-window round MUST be in
    the current PRIORITY window, so the driver re-verifies it at its
    new code this round. The manifest is stamped per rotation by
    ``scripts/update_checked_hashes.py``."""
    import json

    from tests.query_hashes import MANIFEST_PATH, query_source_hash

    with open(MANIFEST_PATH) as f:
        manifest = json.load(f)
    stale = [
        n
        for n in plans.QUERIES
        if manifest.get(n, {}).get("v2") != query_source_hash(n)
        and n not in registry.PRIORITY
    ]
    assert not stale, (
        "queries changed since their last driver check but not in the "
        f"current driver window: {stale} — add them to PRIORITY or "
        "re-stamp with scripts/update_checked_hashes.py"
    )


def test_plan_source_changes_enter_driver_window():
    """Bootstrap-restamp guard backstop: each manifest entry's v1 hash
    (plan-function source + oracle, no closure walk) records the
    query's own-source fingerprint as of its last stamp. Any query
    whose v1 hash drifted must be in the current window — this is
    what makes a ``--bootstrap`` v2 restamp after a shared-helper
    change PROVABLY closure-only for the rows outside the window."""
    import json

    from tests.query_hashes import MANIFEST_PATH, query_v1_hash

    with open(MANIFEST_PATH) as f:
        manifest = json.load(f)
    stale = [
        n
        for n in plans.QUERIES
        if manifest.get(n, {}).get("v1") != query_v1_hash(n)
        and n not in registry.PRIORITY
    ]
    assert not stale, (
        "plan-function source changed since the last stamp for queries "
        f"outside the current driver window: {stale} — add them to "
        "PRIORITY (scripts/update_checked_hashes.py refuses --bootstrap "
        "until then)"
    )


def test_manifest_entries_were_driver_windowed():
    """Manifest-integrity policy (r4 ADVICE, medium): a stamp in
    checked_hashes.json means "the driver verified this query at this
    hash" — so every stamped query must either have an actual driver
    row (a key in some CORRECTNESS_r*.json) or be sitting in the
    CURRENT window about to get one. Pre-stamping a never-checked query
    would silently exempt it from driver verification forever."""
    import glob
    import json
    import os

    from tests.query_hashes import MANIFEST_PATH

    with open(MANIFEST_PATH) as f:
        manifest = json.load(f)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = set()
    for p in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        with open(p) as f:
            checked.update(json.load(f))
    orphans = [
        n
        for n in manifest
        if n not in checked and n not in registry.PRIORITY
    ]
    assert not orphans, (
        "manifest stamps for queries that never sat in a driver window "
        f"and are not in the current one: {orphans} — remove the stamp "
        "or rotate them into PRIORITY"
    )


def test_no_unhashable_output_columns(spark, sf_dir):
    """Driver-canonicalization contract, proved empirically in r4: the
    driver row-sorts results with pandas, so (a) array/map/struct
    output columns are unhashable (``llm_emb_quantize`` driver err:
    ``TypeError: unhashable type: 'list'``). Every registered query's
    EXTERNAL schema must be scalar-only — arrays stay internal
    (serialize with ``array_join`` at the boundary)."""
    from pyspark.sql import types as T

    offenders = []
    for name, fn in plans.QUERIES.items():
        df = fn(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            )
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "array/map/struct output columns break the driver's pandas "
        f"row-sort hash — serialize to scalars: {offenders}"
    )


def test_timestamp_outputs_within_pandas_bounds(spark, sf_dir):
    """Driver-canonicalization contract, proved empirically in r4: the
    driver materializes results through pandas nanosecond timestamps,
    so any timestamp value outside [1678, 2262] raises
    ``OutOfBoundsDatetime`` (``rel_scd2_user_history`` driver err on
    the 9999-12-31 SCD2 sentinel). Check actual min/max of every
    timestamp output column at sf0.001."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    lo = datetime.datetime(1678, 1, 1)
    hi = datetime.datetime(2262, 1, 1)
    offenders = []
    for name, fn in plans.QUERIES.items():
        df = fn(spark, sf_dir)
        ts_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType)
            )
        ]
        if not ts_cols:
            continue
        aggs = []
        for c in ts_cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        row = df.agg(*aggs).first()
        for c in ts_cols:
            mn, mx = row[f"min_{c}"], row[f"max_{c}"]
            if mn is not None and (mn < lo or mx > hi):
                offenders.append(f"{name}.{c}: [{mn}, {mx}]")
    assert not offenders, (
        "timestamp outputs outside pandas ns bounds overflow the "
        f"driver's oracle harness: {offenders}"
    )


def test_entry_points_expose_registry():
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    assert list(qs)[:DRIVER_WINDOW] == registry.PRIORITY
    # every oracle key has a query
    dangling = [n for n in entry_mod.oracle_sql() if n not in qs]
    assert not dangling


def test_probe_lists_reference_registered_queries_only():
    """Probe-list integrity (r11 incident class: a probe-list edit
    via text replace once silently dropped list members): every
    PROBE_QUERIES / DECADE2_QUERIES entry must name a registered
    query, and every decade-2 target must also be a decade-1 probe —
    an unregistered or orphaned name would make the probe run skip
    the row silently instead of failing loudly."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(repo, "scripts", "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    assert not [q for q in sp.PROBE_QUERIES if q not in plans.QUERIES]
    assert not [q for q in sp.DECADE2_QUERIES if q not in plans.QUERIES]
    assert not [
        q for q in sp.DECADE2_QUERIES if q not in sp.PROBE_QUERIES
    ]
    assert len(set(sp.PROBE_QUERIES)) == len(sp.PROBE_QUERIES)
    assert len(set(sp.DECADE2_QUERIES)) == len(sp.DECADE2_QUERIES)


def test_probe_merge_preserves_decade2():
    """A decade-1 improvement must take per-field mins WITHOUT erasing
    the row's decade-2 fields (the review-caught data-loss bug that
    dropped llm_dup_span_detect's sf10 record from the committed
    JSON), and a strictly-worse rerun must leave the row untouched."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(repo, "scripts", "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    merged = {
        "q": {
            "query": "q",
            "sf0_1_sec": 2.7,
            "sf1_0_sec": 19.4,
            "exponent": 0.857,
            "sf1_0_dec2_sec": 16.475,
            "sf10_sec": 59.721,
            "exponent2": 0.559,
        }
    }
    # improved decade-1 rerun: mins taken, decade-2 fields intact
    sp.merge_decade1_rows(merged, [("q", 2.4, 10.3, 0.632)])
    row = merged["q"]
    assert (row["sf0_1_sec"], row["sf1_0_sec"]) == (2.4, 10.3)
    assert row["sf10_sec"] == 59.721 and row["exponent2"] == 0.559
    assert row["sf1_0_dec2_sec"] == 16.475
    # mixed rerun (one field better): still min per field, dec2 kept
    sp.merge_decade1_rows(merged, [("q", 9.9, 8.8, 0.0)])
    assert (merged["q"]["sf0_1_sec"], merged["q"]["sf1_0_sec"]) == (2.4, 8.8)
    assert merged["q"]["sf10_sec"] == 59.721
    # strictly worse rerun: untouched
    before = dict(merged["q"])
    sp.merge_decade1_rows(merged, [("q", 99.0, 99.0, 0.0)])
    assert merged["q"] == before
    # brand-new query: plain insert
    sp.merge_decade1_rows(merged, [("new", 1.0, 10.0, 1.0)])
    assert merged["new"]["exponent"] == 1.0
