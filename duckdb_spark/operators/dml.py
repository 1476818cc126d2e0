"""DML over immutable storage: UPDATE / DELETE / MERGE as rewrite plans.

Reference surface (SURVEY.md §2.1): `physical_insert.cpp`,
`physical_delete.cpp`, `physical_update.cpp`, `physical_merge_into.cpp`
with RETURNING. DuckDB mutates row groups under MVCC; Spark's idiomatic
equivalent over parquet is the *rewrite pattern* (the same shape Delta/
Iceberg implement under the hood): compute the post-image DataFrame, write
it atomically (overwrite), and take RETURNING from the changed rows.

Each operator returns a *tagged* frame: the table's columns plus `__hit`
(the statement updated, deleted or inserted the row; RETURNING reads these
rows) and `__keep` (the row is in the post-image, which `post_image`
selects). `managed.ManagedTables` commits the same tagged frame for every
SQL DML statement. All operators are lazy — callers decide whether to
`copy_to` the post-image (full rewrite) or partition-overwrite.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HIT, KEEP = "__hit", "__keep"


def post_image(tagged: DataFrame) -> DataFrame:
    """The rows a tagged DML frame keeps, without the flags."""
    return tagged.filter(F.col(KEEP)).drop(HIT, KEEP)


def delete_where(table: DataFrame, cond: Column) -> DataFrame:
    """DELETE ... WHERE cond → tagged frame: the rows cond holds for are hit
    and dropped."""
    hit = F.coalesce(cond, F.lit(False))
    return table.select("*", hit.alias(HIT), (~hit).alias(KEEP))


def update_where(table: DataFrame, cond: Column, assignments: dict[str, Column]) -> DataFrame:
    """UPDATE ... SET col=expr WHERE cond → tagged frame.

    RETURNING semantics (reference physical_update.cpp): rows are matched on
    their PRE-update values and their POST-update values are returned — so
    the WHERE flag is computed on the pre-image before assignments apply
    (SET bal=0 WHERE bal<0 must return the zeroed rows, not an empty set).
    """
    flagged = table.withColumn(HIT, F.coalesce(cond, F.lit(False)))
    return flagged.select(
        *[
            (
                F.when(F.col(HIT), assignments[c]).otherwise(F.col(c))
                if c in assignments
                else F.col(c)
            ).alias(c)
            for c in table.columns
        ],
        HIT,
        F.lit(True).alias(KEEP),
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Column | list[str],
    matched: list[tuple[Column | None, dict[str, Column] | None]] = (),
    insert: tuple[Column | None, dict[str, Column]] | None = None,
) -> DataFrame:
    """MERGE INTO target USING source ON ... → tagged frame (see module).

    `on` is a join condition or a list of key columns named alike on both
    sides. `matched` holds the WHEN MATCHED clauses in order as
    (condition or None, {column: value} for UPDATE SET or None for
    DELETE); the first clause whose condition holds takes the row
    (reference physical_merge_into.cpp), and a matched row no clause takes
    stays as it is. `insert` is WHEN NOT MATCHED [AND condition] THEN
    INSERT: a target column missing from its values takes the same-named
    source column, else NULL. Values are cast to the target's types.

    One full outer join tags every row: target-only rows are kept,
    source-only rows are inserted or dropped.
    """
    t = target.withColumn("__t", F.lit(True))
    s = source.withColumn("__s", F.lit(True))
    if isinstance(on, list):
        on = reduce(lambda a, b: a & b, [t[k] == s[k] for k in on])
    is_matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    clause = None  # index of the WHEN MATCHED clause that takes the row
    for i, (cond, _) in enumerate(matched):
        hit = is_matched if cond is None else is_matched & F.coalesce(cond, F.lit(False))
        clause = F.when(hit, i) if clause is None else clause.when(hit, i)
    joined = t.join(s, on, "full_outer").withColumn(
        "__clause", F.lit(None).cast("int") if clause is None else clause)

    new_row = F.col("__t").isNull()
    if insert is None:
        inserted, ins_values = F.lit(False), {}
    else:
        ins_cond, ins_values = insert
        inserted = new_row if ins_cond is None else new_row & F.coalesce(ins_cond, F.lit(False))
    deletes = [i for i, (_, sets) in enumerate(matched) if sets is None]
    deleted = F.col("__clause").isin(deletes) if deletes else F.lit(False)

    def value(c: str, dtype: str) -> Column:
        out = None
        if insert is not None:
            v = (ins_values[c] if c in ins_values
                 else s[c] if c in source.columns else F.lit(None))
            out = F.when(new_row, v)
        for i, (_, sets) in enumerate(matched):
            if sets and c in sets:
                hit = F.col("__clause") == i
                out = F.when(hit, sets[c]) if out is None else out.when(hit, sets[c])
        return (t[c] if out is None else out.otherwise(t[c])).cast(dtype).alias(c)

    return joined.select(
        *[value(c, dtype) for c, dtype in target.dtypes],
        (inserted | F.col("__clause").isNotNull()).alias(HIT),
        F.when(new_row, inserted).otherwise(~F.coalesce(deleted, F.lit(False))).alias(KEEP),
    )
