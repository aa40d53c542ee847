"""Per-document span assembly: original interleaved spans + detected table
spans, ordered, offsets renumbered.

:func:`assemble_spans_sql` is a pure declarative Catalyst plan: one groupBy
on the (tiny) table rows + one join + higher-order array functions
(``transform``/``filter``/``flatten``), fully JVM-side whole-stage-codegen.
The document's span array is never exploded and the heavy media payloads
are long gone — only JSON strings shuffle.  Batch and the stateful stream
(``streaming/stateful_assembly.py``, per micro-batch) both assemble here.

Output invariant (BASELINE.json): spans ordered, ``offset`` = position,
object spans follow their source media span in ``obj_no`` order with
``media_ref`` back-pointers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)

_EMPTY_TSPANS = "array()"


def _merged_spans_expr() -> F.Column:
    """spans + tspans → final renumbered span array (pure SQL).

    ``table``/``plot`` objects are appended AFTER their source ``media``
    span; every input span, ``html`` included, passes through as is."""
    tables_for = lambda s: F.transform(  # noqa: E731
        F.filter(
            F.coalesce(F.col("tspans"), F.expr(_EMPTY_TSPANS).cast(
                "array<struct<media_ref string, obj_no int, okind string, payload string>>"
            )),
            lambda t: (s["kind"] == F.lit("media")) & (t["media_ref"] == s["media_ref"]),
        ),
        lambda t: F.struct(
            t["okind"].alias("kind"),
            t["payload"].alias("text"),
            t["media_ref"].alias("media_ref"),
        ),
    )
    self_span = lambda s: F.array(  # noqa: E731
        F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        )
    )
    interleaved = F.flatten(
        F.transform(
            # order by offset (struct-lexicographic default would sort by kind)
            F.array_sort(F.col("spans"), lambda a, b: a["offset"] - b["offset"]),
            lambda s: F.concat(self_span(s), tables_for(s)),
        )
    )
    return F.transform(
        interleaved,
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    ).alias("spans")


def assemble_spans_sql(docs: DataFrame, tables: DataFrame) -> DataFrame:
    """(docs, per-table rows) → (doc_id, spans) via Catalyst only.

    Object rows with ``obj_no < 0`` (page markers) or errors are dropped
    here; they exist for metrics.  Object ``kind`` ('table' | 'plot') flows
    through to the span kind.
    """
    tdoc = (
        tables.where((F.col("obj_no") >= 0) & F.col("error").isNull())
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "media_ref",
                        "obj_no",
                        F.col("kind").alias("okind"),
                        "payload",
                    )
                )
            ).alias("tspans")
        )
    )
    return docs.join(tdoc, "doc_id", "left").select("doc_id", _merged_spans_expr())

