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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import EXCLUDE_MARKER
from movex_cdc_spark.sqltext import ident, literal

# Each rule is defined once, as SQL text (``sqltext``: one string is one
# py4j call, a Column tree one per node); the Column and DataFrame
# forms below wrap that text.


def bad_op_sql(op_col: str = "op") -> str:
    """Rows whose operation is unknown or NULL — transport junk on
    byte-stream sources (a malformed wire record parses all-null)."""
    op = ident(op_col)
    return f"({op} IS NULL OR {op} NOT IN ('I', 'U', 'D'))"


def poison_sql(content_col: str = "content", op_col: str = "op") -> str:
    """THE quarantine rule (single definition): I/U without content,
    or an unknown/NULL op. Total: never NULL. Everything that routes
    rows toward the dead-letter path — flag_dispositions, the condition
    filters' quarantine exemption, RetryWorker's re-validation —
    derives from this."""
    return (
        f"(({ident(content_col)} IS NULL AND {ident(op_col)} IN ('I', 'U'))"
        f" OR {bad_op_sql(op_col)})"
    )


def poison_predicate(content_col: str = "content", op_col: str = "op") -> Column:
    return F.expr(poison_sql(content_col, op_col))


def condition_keep_sql(condition_sql: str | None, event_shaped: bool) -> str | None:
    """The keep predicate of a per-table SQL condition (rows NOT matching
    are dropped — the trigger-condition semantics: condition true ⇒
    event captured); None for no condition.

    Poison-shaped rows BYPASS the condition: on a malformed row the
    predicate is typically undecidable (NULL — e.g. ``lang = 'py'``
    over an all-null parse), and three-valued logic would silently
    drop it HERE before the poison split can quarantine it. The
    reference raises on such rows rather than filtering them; here
    they continue to the dead-letter path regardless of condition.
    The exemption applies only to ``event_shaped`` frames (op +
    content columns present) — on anything else there is no poison
    split downstream and the condition keeps its pure semantics."""
    if not condition_sql:
        return None
    if event_shaped:
        return f"(coalesce(({condition_sql}), false) OR {poison_sql()})"
    return f"({condition_sql})"


def per_op_keep_sql(
    conditions: dict[str, str] | None, op_col: str = "op", event_shaped: bool = True
) -> str | None:
    """The keep predicate of per-(table, op) trigger conditions (P3): a
    row survives iff the condition configured for ITS op holds; ops
    with no configured condition always pass (reference compiles one
    WHEN clause per operation into the trigger,
    db_trigger_generator_oracle.rb:774-777). One conjunctive predicate,
    so Catalyst can push it into the scan; same quarantine exemption as
    ``condition_keep_sql``, on frames with a content column."""
    if not conditions:
        return None
    keep = " AND ".join(
        f"(CASE WHEN {ident(op_col)} = {literal(op)} THEN ({sql}) ELSE true END)"
        for op, sql in conditions.items()
    )
    if event_shaped:
        return f"(coalesce({keep}, false) OR {poison_sql(op_col=op_col)})"
    return f"({keep})"


def noop_keep_sql(new_col: str = "content", old_col: str = "old_content", op_col: str = "op") -> str:
    """Keep all but updates where the tracked payload did not change.

    Null-safe: ``old <=> new`` mirrors the reference's pairwise
    ``old != new OR (old IS NULL) != (new IS NULL)`` check
    (P4: db_trigger_generator_oracle.rb:802-823). The coalesce: a NULL
    op (malformed wire record, old<=>new both NULL) makes the no-op
    test NULL, and ``NOT NULL`` would silently drop the row HERE —
    before the poison flag ever sees it. Only a definite no-op may be
    suppressed; undecidable rows continue to the poison split."""
    return (
        f"(NOT coalesce({ident(op_col)} = 'U' AND {ident(old_col)} <=> {ident(new_col)}, false))"
    )


def per_op_condition_filter(
    df: DataFrame, conditions: dict[str, str] | None, op_col: str = "op"
) -> DataFrame:
    """``df`` filtered by ``per_op_keep_sql``."""
    keep = per_op_keep_sql(conditions, op_col, "content" in df.columns)
    return df.filter(keep) if keep else df


def default_exclude_condition() -> str:
    """The fixture condition: drop rows whose content carries the
    exclusion marker (analog of `:new.Name != 'EXCLUDE FILTER'`)."""
    return f"content IS NULL OR NOT contains(content, '{EXCLUDE_MARKER}')"
