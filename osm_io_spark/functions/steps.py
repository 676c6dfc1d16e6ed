"""Plan building from SQL text: one lateral column alias per step.

Each ``F.col``/``F.lit``/Column operator is a py4j round trip, and each
``DataFrame.select`` re-analyzes the whole plan it grows, so a Column
chain of a few dozen steps costs thousands of round trips before any
task runs. :func:`select_steps` builds the same chain from SQL text in
ONE ``selectExpr``: each step is an alias the later steps reference by
name (a lateral column alias), and the analyzer resolves the aliases
into stacked Projects. A step referenced more than once by the next is
not inlined by CollapseProject, so step boundaries survive into
whole-stage codegen as they did with one ``select`` per step.

Rules for step text (see CLAUDE.md): reference each earlier step by its
alias, never by pasting its text (text that nests a step twice per step
grows 2^k-fold); write unsigned shifts as ``shiftrightunsigned`` (a
``>>>`` inside ``array(...)`` does not parse); and decimal literals in
Spark SQL are DECIMAL, so double constants carry a ``D`` suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def select_steps(df: DataFrame, steps: list[tuple[str, str]],
                 keep: tuple[str, ...] = ()) -> DataFrame:
    """``df`` plus the SQL ``steps``, (alias, expression) pairs evaluated
    in order as lateral column aliases of one ``selectExpr``; of the
    aliases, only those in ``keep`` stay on the result. An input column
    named like a step would silently win over the alias, so that raises
    ValueError."""
    names = [a for a, _ in steps]
    clash = set(names) & set(df.columns)
    if clash:
        raise ValueError(
            f"scratch columns {sorted(clash)} collide with input columns; "
            f"rename them first")
    out = df.selectExpr("*", *[f"{e} AS `{a}`" for a, e in steps])
    scratch = [a for a in names if a not in keep]
    return out.drop(*scratch) if scratch else out
