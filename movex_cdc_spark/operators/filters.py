"""Event-stream filters: condition, no-op suppression, quarantine.

These are the capture-side row filters of the reference, re-expressed
as declarative DataFrame filters Catalyst can push into the scan:

  * condition filter   — per-(table, op) SQL predicate on the row
    (reference P3: db_trigger_generator_oracle.rb:774-777,1027-1039;
    fixture 'EXCLUDE FILTER' test/test_helper.rb:589-600)
  * no-op-update suppression — UPDATE only fires when a tracked column
    actually changed, null-safe (reference P4:
    db_trigger_generator_oracle.rb:802-823)
  * poison rule — rows failing validation are quarantined instead of
    failing the batch (apply.flag_dispositions flags them,
    split_flagged slices them off). Spark's whole-task failure model
    makes the reference's divide-and-conquer recursion
    (transfer_thread.rb:143-178) unnecessary: validate first,
    dead-letter the rest (ST6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import EXCLUDE_MARKER


def bad_op_predicate(op_col: str = "op") -> F.Column:
    """Rows whose operation is unknown or NULL — transport junk on
    byte-stream sources (a malformed wire record parses all-null)."""
    return ~F.col(op_col).isin("I", "U", "D") | F.col(op_col).isNull()


def poison_predicate(content_col: str = "content", op_col: str = "op") -> F.Column:
    """THE quarantine rule (single definition): I/U without content,
    or an unknown/NULL op. Everything that routes rows toward the
    dead-letter path — flag_dispositions and the condition filters'
    quarantine exemption — derives from this."""
    bad_content = F.col(content_col).isNull() & F.col(op_col).isin("I", "U")
    return bad_content | bad_op_predicate(op_col)


def condition_filter(df: DataFrame, condition_sql: str | None) -> DataFrame:
    """Apply a per-table SQL condition (rows NOT matching are dropped —
    the trigger-condition semantics: condition true ⇒ event captured).

    Poison-shaped rows BYPASS the condition: on a malformed row the
    predicate is typically undecidable (NULL — e.g. ``lang = 'py'``
    over an all-null parse), and three-valued logic would silently
    drop it HERE before the poison split can quarantine it. The
    reference raises on such rows rather than filtering them; here
    they continue to the dead-letter path regardless of condition.
    The exemption applies only to CDC-event-shaped frames (op +
    content columns present) — on anything else there is no poison
    split downstream and the condition keeps its pure semantics."""
    if not condition_sql:
        return df
    keep = F.expr(condition_sql)
    if "op" in df.columns and "content" in df.columns:
        keep = F.coalesce(keep, F.lit(False)) | poison_predicate()
    return df.filter(keep)


def per_op_condition_filter(
    df: DataFrame, conditions: dict[str, str] | None, op_col: str = "op"
) -> DataFrame:
    """Per-(table, op) trigger conditions (P3): a row survives iff the
    condition configured for ITS op holds; ops with no configured
    condition always pass (reference compiles one WHEN clause per
    operation into the trigger, db_trigger_generator_oracle.rb:774-777).
    Compiled to a single conjunctive predicate so Catalyst can push it
    into the scan."""
    if not conditions:
        return df
    keep = F.lit(True)
    for op, sql in conditions.items():
        keep = keep & F.when(F.col(op_col) == op, F.expr(sql)).otherwise(F.lit(True))
    # same quarantine exemption as condition_filter: a poison-shaped
    # row with an undecidable (NULL) condition must reach the split —
    # only on CDC-event-shaped frames (content present), same rule
    if "content" in df.columns:
        keep = F.coalesce(keep, F.lit(False)) | poison_predicate(op_col=op_col)
    return df.filter(keep)


def default_exclude_condition() -> str:
    """The fixture condition: drop rows whose content carries the
    exclusion marker (analog of `:new.Name != 'EXCLUDE FILTER'`)."""
    return f"content IS NULL OR NOT contains(content, '{EXCLUDE_MARKER}')"


def suppress_noop_updates(
    df: DataFrame, new_col: str = "content", old_col: str = "old_content", op_col: str = "op"
) -> DataFrame:
    """Drop updates where the tracked payload did not change.

    Null-safe: `old <=> new` (eqNullSafe) mirrors the reference's
    pairwise `old != new OR (old IS NULL) != (new IS NULL)` check.

    A frame with no old-image column (e.g. dead letters quarantined by
    the slim streaming cache, which drops it) passes through unchanged:
    with no old image the no-op check is undecidable and suppressing
    would lose real updates."""
    if old_col not in df.columns:
        return df
    is_noop = (F.col(op_col) == "U") & F.col(old_col).eqNullSafe(F.col(new_col))
    # coalesce: a NULL op (malformed wire record, old<=>new both NULL)
    # makes is_noop NULL, and filter(~NULL) would silently drop the row
    # HERE — before the poison flag ever sees it. Only a definite no-op
    # may be suppressed; undecidable rows continue to the poison split.
    return df.filter(~F.coalesce(is_noop, F.lit(False)))

