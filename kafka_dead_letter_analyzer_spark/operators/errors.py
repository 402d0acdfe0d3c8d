"""Dataflow-level try/catch — the error-splitting combinator (E1) and the
error -> DeadLetter converter (E2).

Reference pattern: ``processValuesCapturingErrors`` bifurcates every fallible
processor into a success stream and an ``errors()`` side stream
(DeadLetterAnalyzerTopology.java:113-137, 198-215);
``AvroDeadLetterConverter`` then renders each captured ``(record, exception)``
into a ``DeadLetter`` with a stage-specific description
(call sites :120, :133, :214).

Spark has no built-in success/failure bifurcation, so this module provides
the engine's equivalent, entirely with column expressions (SURVEY.md §7.3):
fallible logic is expressed as *validity predicates* that produce an error
struct ``struct<error_class, message>`` (NULL == success) instead of
throwing. ``split_errors`` then filters the frame both ways. The two sides
are two plans: each one that is executed scans and computes the shared
subplan again (Catalyst does not share it between them, and AQE, which is
off under streaming anyway, reuses only identical exchanges). A consumer
that needs both sides of a stage should filter once on the channel column
instead (``plans.topology.error_topic``). No Python UDFs, no exceptions
crossing the JVM boundary.

Divergence note (documented): real Java exceptions carry stack traces; our
declarative errors synthesize a single-line trace ``"{class}: {message}"``
so the error-topic feedback loop (E3) stays classifiable by N2 — the
EXCEPTION regex extracts ``{class}`` exactly as it does from a real trace's
first line.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ERROR_COL = "_error"

ILLEGAL_ARGUMENT = "java.lang.IllegalArgumentException"
NUMBER_FORMAT = "java.lang.NumberFormatException"
NO_SUCH_ELEMENT = "java.util.NoSuchElementException"


def error_struct(error_class: str, message: Column) -> Column:
    """An error value: ``struct<error_class, message>``."""
    return F.struct(
        F.lit(error_class).alias("error_class"), message.alias("message")
    )


def raise_when(cond: Column, error_class: str, message: Column | str) -> Column:
    """Declarative ``throw``: the error struct when ``cond``, else NULL."""
    msg = F.lit(message) if isinstance(message, str) else message
    return F.when(cond, error_struct(error_class, msg))


def first_error(*errors: Column) -> Column:
    """Short-circuit like sequential Java statements: the first non-NULL
    error wins (mirrors top-to-bottom orElseThrow evaluation order in the
    reference parsers)."""
    return F.coalesce(*errors) if errors else F.lit(None)


def capture(df: DataFrame, error: Column) -> DataFrame:
    """Attach the E1 error channel as a column (NULL == success)."""
    return df.withColumn(ERROR_COL, error)


def split_errors(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """E1 bifurcation: ``(values(), errors())``.

    The success side drops the channel column; the error side keeps it for
    E2 conversion.
    """
    ok = df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
    bad = df.filter(F.col(ERROR_COL).isNotNull())
    return ok, bad


def synthetic_stack_trace(error: Column) -> Column:
    """``"{class}: {message}"`` — one classifiable line (see module note)."""
    return F.concat_ws(": ", error["error_class"], error["message"])


def error_to_dead_letter(
    err_df: DataFrame, description: str | Column, input_value: Column
) -> DataFrame:
    """E2: captured error row -> normalized ``dead_letter`` struct column.

    ``description`` is the stage-specific fixed string, exactly one of the
    reference's three (DeadLetterAnalyzerTopology.java:120,133,214), or a
    column choosing among them per row.
    """
    err = F.col(ERROR_COL)
    dead_letter = F.struct(
        input_value.cast("string").alias("input_value"),
        F.lit(None).cast("int").alias("partition"),
        F.lit(None).cast("string").alias("topic"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(description).alias("description"),
        F.struct(
            err["error_class"].alias("error_class"),
            err["message"].alias("message"),
            synthetic_stack_trace(err).alias("stack_trace"),
        ).alias("cause"),
        F.lit(None).cast("timestamp").alias("input_timestamp"),
    )
    return err_df.withColumn("dead_letter", dead_letter).drop(ERROR_COL)
