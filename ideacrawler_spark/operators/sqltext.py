"""SQL text over DataFrames, for plans the driver builds every round.

Building a plan with DataFrame and Column calls costs one py4j round trip
per call (a ``F.col`` alone costs about a dozen) and one eager analysis
per DataFrame operation. A ``spark.sql`` statement costs one round trip
and one analysis, however many steps it holds. The frames a statement
reads are named as session temp views for as long as the plan is built:
a statement is analyzed when it is made, so its DataFrame keeps the
views' plans after they are dropped.

``spark.sql(text, df=frame)`` is not used: it drops its views through
``Catalog.dropTempView``, which also uncaches every cached plan the view
matches, so a persisted frame passed to it stops being persisted. The
views here are dropped from the session catalog alone.

A persisted frame is named by its cached relation, not by its lineage:
a statement over it analyzes one leaf instead of every step before it,
and plans exactly as before, since the optimizer swaps the same cached
relation in for the lineage. A statement must not join such a relation
with itself: Spark 4.1 then fails to canonicalize it when its plan is
sorted, so a frame read twice by one join is named before it persists.
"""

from __future__ import annotations

import itertools
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

_ids = itertools.count()


def quote(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(x: float) -> str:
    """``x`` as a SQL double literal (a bare ``1.5`` is a decimal)."""
    return f"{float(x)!r}D"


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def release(df: DataFrame):
    """Free the blocks behind ``df``: its cache, else the RDD of each
    ``localCheckpoint`` it reads, which ``unpersist()`` leaves pinned."""
    if df.is_cached:
        df.unpersist()
        return
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


class Views:
    """Temp views over DataFrames for the SQL statements of one plan
    build, and the frames it persists; ``drop()`` (or leaving the ``with``
    block) removes and releases them."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._names: list = []
        self.persisted: list = []  # released by drop()

    def add(self, df: DataFrame, name: str) -> str:
        """Name ``df`` for this scope's statements; returns the view name,
        unique in the session."""
        view = f"_{name}_{next(_ids)}"
        jdf = df._jdf
        if df.is_cached:
            jdf = _dataset(self.spark._jvm).ofRows(
                self.spark._jsparkSession,
                jdf.queryExecution().withCachedData())
        jdf.createOrReplaceTempView(view)
        self._names.append(view)
        return view

    def persist(self, df: DataFrame, name: str) -> str:
        """Persist ``df`` until ``drop()`` and name it by its cached
        relation; returns the view name."""
        self.persisted.append(df.persist())
        return self.add(df, name)

    def sql(self, text: str) -> DataFrame:
        """One analyzed statement (no parameter markers)."""
        return DataFrame(self.spark._jsparkSession.sql(text), self.spark)

    def drop(self):
        if self._names:
            catalog = self.spark._jsparkSession.sessionState().catalog()
            for view in self._names:
                catalog.dropTempView(view)
            self._names = []
        for df in self.persisted:
            release(df)
        self.persisted.clear()

    def __enter__(self) -> "Views":
        return self

    def __exit__(self, *exc):
        self.drop()


@lru_cache(maxsize=None)
def _dataset(jvm):
    return jvm.org.apache.spark.sql.classic.Dataset
