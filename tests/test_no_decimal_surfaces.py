"""Output-surface type gate: no registered query may EMIT a DECIMAL
column.

Round-10 finding: across the full r1-r9 driver history, the four r9-red
queries (curate-dsir, cdc-merge-apply, text-cooccurrence-pmi, the
19-row canary) were EXACTLY the four registered queries whose output
schema contained a DECIMAL column — no driver-green query ever emitted
one, and value content (negative / NULL / positive) did not correlate.
The driver environment's value-hash layer cannot hash DECIMAL output
columns consistently across its Spark and DuckDB arms (engine-version /
arrow decimal conversion), so the repo-wide determinism rule is:

    decimal math stays INTERNAL (exact, order-insensitive sums);
    the output boundary is DOUBLE (correctly-rounded cast; the oracle
    routes the same cast through VARCHAR when unscaled digits can
    exceed 2^53), STRING (exact decimal text), or integers.

``fn-canary-decimal-repr`` — the repr-layer probe that ESTABLISHED this
rule by going driver-red exactly as predicted in r10 — was retired from
the driver registry in r13 (VERDICT r12 task #5: its diagnostic job is
done; a permanently-red registered row kept the driver surface from
being green-by-construction).  The probe function itself survives
unregistered and is still pinned analytically in tests/test_round9_ops
and driven against DuckDB here, so the registry gate below now holds
with NO exceptions.
"""

from __future__ import annotations

from merl_etl_spark.registry import QUERIES, load_all

load_all()


def test_no_query_emits_decimal_columns(query_census):
    """Schema-only pass over every registered query (no execution): any
    DECIMAL column at the output boundary will silently go driver-red
    regardless of values — fail it here with the offending columns
    named.  No exceptions: the one deliberate decimal surface was
    retired from the registry in r13."""
    offenders: dict[str, list[str]] = {}
    for name, (df, _) in query_census.items():
        dec_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName().startswith("decimal")
        ]
        if dec_cols:
            offenders[name] = dec_cols
    assert not offenders, (
        f"queries emitting DECIMAL output columns (driver-unhashable): "
        f"{offenders}"
    )


def test_retired_decimal_canary_still_parity_checked(spark, sf_dir):
    """The retired probe keeps its cross-engine evidence: drive the
    unregistered fn_canary_decimal_repr against its DuckDB oracle with
    the same value-level compare the sweep uses.  This is the parity the
    de-registration removed from the driver surface — re-established
    here so the decimal repr contract stays tested LOCALLY (where both
    engines hash decimals consistently; it is only the external driver
    env that cannot)."""
    from merl_etl_spark.functions.scalar_queries import fn_canary_decimal_repr
    from tests.oracle_check import compare, duck_run

    assert "fn-canary-decimal-repr" not in QUERIES
    compare(
        fn_canary_decimal_repr(spark, sf_dir),
        duck_run(sf_dir, fn_canary_decimal_repr.oracle_sql),
        "fn-canary-decimal-repr (retired probe)",
    )
