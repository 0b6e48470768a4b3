"""DSet — the reference-parity operator facade over DataFrame.

Prajna's central abstraction is ``DSet<'U>``: an immutable, lazily
evaluated, partitioned collection transformed by closures
(/root/reference/src/CoreLib/DSet.fs:183-190, DSetGenerics.fs:60-92), with
the key-value view DKV = DSet<'K*'V> (DKV.fs:30-64). This module re-expresses
that surface Spark-first: a DSet wraps a DataFrame (+ optional key columns),
every transformation is a Catalyst-visible DataFrame op, and closure-style
escape hatches (map_rows / map_by_collection) are Arrow-batched.

Design rules (the 100 TB contract):
- column expressions over closures: ``map``/``filter``/``choose`` take
  Column expressions so predicates/projections push into scans and stay in
  whole-stage codegen; the reference's arbitrary .NET closures have no
  pushdown and no columnar execution, so this is a strict upgrade;
- every shuffle is an explicit, named decision (repartition / group / join /
  binsort); nothing here adds hidden shuffles;
- ``fold`` provides the reference's arbitrary-state aggregation via
  rdd.aggregate ONLY as the documented slow path; standard aggregates go
  through ``agg`` (hash aggregate, partial+final).

Reference test parity: tests/test_dset_core.py mirrors the NUnit cases in
/root/reference/tests/CoreLib/DSet.fs and DKV.fs (multiset equality of
distributed vs local results, partition-count assertions).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prajna_spark.sources.catalog import read_parquet

ColumnLike = Column | str


def _c(col: ColumnLike) -> Column:
    return F.col(col) if isinstance(col, str) else col


class DSet:
    """Distributed dataset facade (Prajna DSet<'U> -> DataFrame)."""

    def __init__(self, df: DataFrame, key_cols: Sequence[str] = ()):  # DKV when key_cols set
        self.df = df
        self.key_cols = tuple(key_cols)

    # ------------------------------------------------------------------
    # Sources (SURVEY §2.1)
    # ------------------------------------------------------------------

    @classmethod
    def distribute(
        cls, spark: SparkSession, rows: Iterable[Any], schema: Any = None
    ) -> "DSet":
        """Prajna ``DSet.distribute seq`` (DSetGenerics.fs:881-950): scatter
        a local sequence across the cluster."""
        return cls(spark.createDataFrame(rows, schema=schema))

    @classmethod
    def source_i(
        cls,
        spark: SparkSession,
        num_partitions: int,
        rows_per_partition: int = 1,
    ) -> "DSet":
        """Prajna ``DSet.sourceI numPartitions f`` (DSetGenerics.fs:734-787):
        exactly ``num_partitions`` partitions, a generator per partition
        index. Spark-first: spark.range partitioned to the same layout,
        exposing (partition_index ``i``, in-partition ordinal ``j``);
        user maps columns over it instead of running a closure."""
        n = num_partitions * rows_per_partition
        df = (
            spark.range(0, n, 1, num_partitions)
            .withColumn("i", (F.col("id") / rows_per_partition).cast("int"))
            .withColumn("j", (F.col("id") % rows_per_partition).cast("int"))
        )
        return cls(df)

    @classmethod
    def init_n(
        cls, spark: SparkSession, sizes: Sequence[int]
    ) -> "DSet":
        """Prajna ``DSet.init(initFunc, partitionSizeFunc)``
        (DSetGenerics.fs:623-705): per-partition sizes. Rows carry
        (i=partition, j=ordinal)."""
        parts = [(i, j) for i, size in enumerate(sizes) for j in range(size)]
        df = spark.createDataFrame(parts, schema="i int, j int").repartition(
            max(len(sizes), 1), "i"
        )
        return cls(df)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DSet":
        """Prajna ``DSet.loadSource()`` (DSetGenerics.fs:367-384): re-open a
        named stored DSet -> parquet scan with pushdown/pruning; the schema
        is inferred once per file version (``sources.catalog.read_parquet``)."""
        return cls(read_parquet(spark, path))

    # ------------------------------------------------------------------
    # Sinks (SURVEY §2.2)
    # ------------------------------------------------------------------

    def save(self, path: str, mode: str = "overwrite") -> "DSet":
        """Prajna ``saveToHDD()`` (DSetGenerics.fs:519-547). Eager write;
        replication is the storage layer's job (GV.fs:168 NumReplications ->
        HDFS/object-store)."""
        self.df.write.mode(mode).parquet(path)
        return self

    def lazy_save(self, path: str, mode: str = "overwrite") -> Callable[[], None]:
        """Prajna ``lazySaveToHDD()`` (DSetGenerics.fs:549-586): save as a
        deferred action for multi-sink DAGs; call the returned thunk to
        materialize (persist self.df first to share the scan)."""
        return lambda: self.df.write.mode(mode).parquet(path)

    def save_with_monitor(
        self, path: str, *metrics: Column, mode: str = "overwrite"
    ) -> dict:
        """Prajna ``saveToHDDWithMonitor(monitorFunc, ...)``
        (DSetGenerics.fs:588-620): save + report progress/stats to the
        client without a second pass. Spark-first: the Observation API
        rides metrics on the SAME write job (no extra scan, no persist —
        what the reference builds from bypass → save + toSeq). Returns the
        observed metrics dict; default metric is the row count."""
        from pyspark.sql import Observation

        obs = Observation()
        metrics = metrics or (F.count(F.lit(1)).alias("rows_written"),)
        self.df.observe(obs, *metrics).write.mode(mode).parquet(path)
        return obs.get

    # ------------------------------------------------------------------
    # Narrow per-row ops (SURVEY §2.3)
    # ------------------------------------------------------------------

    def identity(self) -> "DSet":
        """Prajna ``identity`` (DSetGenerics.fs:996-1004)."""
        return DSet(self.df.select("*"), self.key_cols)

    def map(self, *cols: ColumnLike) -> "DSet":
        """Prajna ``map f`` (DSetGenerics.fs:1029-1040) with column
        expressions (codegen'd projection)."""
        return DSet(self.df.select(*[_c(c) for c in cols]))

    def with_column(self, name: str, col: Column) -> "DSet":
        return DSet(self.df.withColumn(name, col), self.key_cols)

    def filter(self, pred: Column) -> "DSet":
        """Prajna ``filter pred`` (DSetGenerics.fs:1006-1013)."""
        return DSet(self.df.where(pred), self.key_cols)

    def choose(self, col: Column, name: str = "value") -> "DSet":
        """Prajna ``choose f`` (DSetGenerics.fs:1015-1028): map to
        Option + drop None in one pass -> select + IS NOT NULL (fused by
        Catalyst into one stage)."""
        return DSet(
            self.df.select(col.alias(name)).where(F.col(name).isNotNull())
        )

    def flat_map(self, col: Column, name: str = "value") -> "DSet":
        """Prajna ``collect f`` = flatMap (DSetGenerics.fs:1248-1258):
        explode an array-valued expression."""
        return DSet(self.df.select(F.explode(col).alias(name)))

    def map_rows(self, fn: Callable, schema: Any) -> "DSet":
        """Closure escape hatch — Prajna's arbitrary .NET closure ``map``.
        Arrow-batched ``mapInPandas`` (the documented slow path; prefer
        column expressions)."""
        return DSet(self.df.mapInPandas(fn, schema=schema))

    def map_by_collection(self, fn: Callable, schema: Any) -> "DSet":
        """Prajna ``mapByCollection f`` 'U[]->'U1[] (DSetGenerics.fs:
        1127-1138): whole-batch transform == mapInPandas over Arrow record
        batches (the reference's collection == our Arrow batch)."""
        return DSet(self.df.mapInPandas(fn, schema=schema))

    def async_map(self, fn: Callable, schema: Any) -> "DSet":
        """Prajna ``asyncMap``/``parallelMap`` (DSetGenerics.fs:1055-1126):
        the reference awaits per-item delegates in parallel *within* a
        collection; Spark's task/core parallelism subsumes that scheduling,
        so semantically these ARE ``map_rows`` (documented alias)."""
        return self.map_rows(fn, schema)

    parallel_map = async_map

    def print_rows(self, n: int = 20) -> None:
        """Quick debug print (driver-side show, truncated)."""
        self.df.show(n)

    def printfn(self, fmt: Callable[..., str] = None, file=None) -> int:
        """Prajna ``printfn fmt`` / ``LocalIter`` (DSetGenerics.fs:498-518):
        read the ENTIRE DSet back to the client and print every row.
        Faithful to the reference — including its caution that the whole
        dataset streams to the local machine: ``toLocalIterator`` pulls
        one partition at a time, so driver memory stays O(partition).
        ``fmt`` maps a Row to a line (default: the Row repr). Returns the
        number of rows printed (the reference's LocalIter is also used as
        a counting drain in its tests)."""
        count = 0
        for row in self.df.toLocalIterator():
            print(fmt(*row) if fmt else str(row), file=file)
            count += 1
        return count

    def mapi(self, order_by: Sequence[str], index_col: str = "idx") -> "DSet":
        """Prajna ``mapi`` (partition, ordinal) (DSetGenerics.fs:1041-1054)
        -> deterministic global index over an explicit total order
        (operators.zipindex; distributed two-pass, no global window)."""
        from prajna_spark.operators.zipindex import zip_with_index

        return DSet(zip_with_index(self.df, list(order_by), index_col), self.key_cols)

    def mapi_partition(
        self, partition_col: str = "parti", ordinal_col: str = "ordinal"
    ) -> "DSet":
        """Prajna ``mapi``'s RAW (partition, in-partition-ordinal) form
        (DSetGenerics.fs:1041-1054; exercised by tests/CoreLib/DSet.fs's
        mapi case): every row gets its partition id and 0-based ordinal
        WITHIN that partition — no shuffle, no global pass (contrast
        ``mapi``, which derives a total-order global index).

        Partition id is ``spark_partition_id()`` (same stage, so it tags
        the partition the row is IN); ordinals come from an Arrow-batched
        counter — ``mapInPandas`` invokes its function once per partition,
        so the counter restarts at 0 exactly where the reference's
        per-partition closure does. Ordinals follow the partition's
        iteration order, which (like the reference) is only meaningful
        when upstream order is pinned (sortWithinPartitions / source
        order)."""
        import pandas as pd  # noqa: F401 — Arrow path

        src = self.df.withColumn(partition_col, F.spark_partition_id())
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        schema = f"{fields}, {ordinal_col} long"

        def number(batches):
            n = 0
            for pdf in batches:
                pdf[ordinal_col] = range(n, n + len(pdf))
                n += len(pdf)
                yield pdf

        return DSet(src.mapInPandas(number, schema), self.key_cols)

    def execute(self, fn: Callable[[Iterable], None]) -> None:
        """Prajna ``execute f``/``iter f`` (DSetGenerics.fs:951-995,
        458-468): run side effects per partition."""
        self.df.foreachPartition(fn)

    # ------------------------------------------------------------------
    # Caching / reorg (SURVEY §2.4)
    # ------------------------------------------------------------------

    def cache_in_memory(self) -> "DSet":
        """Prajna ``cacheInMemory`` (DSetGenerics.fs:1229-1235) ->
        persist(MEMORY_AND_DISK): unlike the reference's hard memory cutoff
        (DSet.fs:2869-2875), Spark spills."""
        return DSet(self.df.persist(StorageLevel.MEMORY_AND_DISK), self.key_cols)

    def rows_reorg(self, num_partitions: int) -> "DSet":
        """Prajna ``rowsReorg``/``reorgWDegree`` (DSetGenerics.fs:1139-1184):
        collection rebatching is a no-op on Spark (Tungsten batches
        internally); partition-granularity reorg = coalesce (no shuffle)."""
        return DSet(self.df.coalesce(num_partitions), self.key_cols)

    # ------------------------------------------------------------------
    # Keys / repartition (SURVEY §2.5) — the DKV view
    # ------------------------------------------------------------------

    def by_key(self, *key_cols: str) -> "DSet":
        """Enter the DKV view: DSet<'K*'V> == DataFrame + designated key
        columns (DKV.fs:30-64; our schema mapping per SURVEY §1.3)."""
        return DSet(self.df, key_cols)

    def repartition_by_key(self, n: int | None = None) -> "DSet":
        """Prajna ``repartitionByKey`` (DKV.fs:54-70): hash partition on the
        key columns. The reference's arbitrary ``'U->int`` partFunc
        (DSetGenerics.fs:1364-1389) is deliberately narrowed to
        partition-by-expression so the exchange stays in the JVM — the
        SURVEY §7 'hard parts' mitigation."""
        self._require_keys()
        cols = [F.col(c) for c in self.key_cols]
        df = self.df.repartition(n, *cols) if n else self.df.repartition(*cols)
        return DSet(df, self.key_cols)

    def repartition_by_func(self, n: int, part_func: Callable[[Any], int]) -> "DSet":
        """Prajna ``repartition partFunc`` with an ARBITRARY ``'U->int``
        closure (DSetGenerics.fs:1364-1389) — the faithful RDD path:
        ``partitionBy`` with the pickled partFunc. This round-trips every
        row through Python serialization; it exists for reference parity
        and odd partitioners only. The production spelling is
        :meth:`repartition_by_key` (partition-by-expression, JVM-side) —
        SURVEY §7 hard-part 1."""
        spark = self.df.sparkSession
        schema = self.df.schema
        rdd = (
            self.df.rdd.map(lambda row: (part_func(row), row))
            .partitionBy(n, lambda k: k)
            .map(lambda kv: kv[1])
        )
        return DSet(spark.createDataFrame(rdd, schema), self.key_cols)

    def repartition_by_unique_key(self) -> "DSet":
        """Prajna ``repartitionByUniqueKey`` (DKV.fs:66-96): every distinct
        key value gets its OWN partition. Like the reference, this is
        EAGER — it first evaluates the distinct key set (the reference's
        FoldWithCommonStatePerNode pass) to build the exact key->partition
        map, then routes rows through the faithful RDD ``partitionBy``
        escape hatch (hash partitioning cannot guarantee distinct keys
        land apart — collisions — so the exact map is required).

        Scale note: #partitions == #distinct keys and the map lives on the
        driver — this is for MODERATE key cardinality (per-entity output
        files, per-tenant processing). The reference bounded it the same
        way (and kept it private); at high cardinality use
        ``repartition_by_key``, where AQE balances the hash buckets.
        """
        self._require_keys()
        key_cols = list(self.key_cols)
        distinct = [
            tuple(r) for r in self.df.select(*key_cols).distinct().collect()
        ]
        mapping = {k: i for i, k in enumerate(sorted(distinct, key=str))}
        idx = {c: i for i, c in enumerate(self.df.columns)}
        positions = [idx[c] for c in key_cols]

        def route(row) -> int:
            return mapping[tuple(row[p] for p in positions)]

        return self.repartition_by_func(len(mapping) or 1, route)

    def filter_by_key(self, pred: Callable[[list[Column]], Column]) -> "DSet":
        """Prajna ``filterByKey f`` (DKV.fs:172-177)."""
        self._require_keys()
        return DSet(
            self.df.where(pred([F.col(c) for c in self.key_cols])), self.key_cols
        )

    def map_by_value(self, value_col: str, col: Column) -> "DSet":
        """Prajna ``mapByValue f`` (DKV.fs:179-203): transform value, keep key."""
        self._require_keys()
        return DSet(self.df.withColumn(value_col, col), self.key_cols)

    # ------------------------------------------------------------------
    # Aggregations (SURVEY §2.6)
    # ------------------------------------------------------------------

    def count(self) -> int:
        """Prajna ``count()`` (DSetGenerics.fs:470-481)."""
        return self.df.count()

    def agg(self, *aggs: Column) -> DataFrame:
        """DataFrame fast path for fold-expressible aggregates — hash
        aggregate with map-side partials (what the reference's
        fold-per-partition/per-node pipeline hand-rolls,
        DSetAction.fs:516-556)."""
        return self.df.agg(*aggs)

    def fold(self, zero: Any, seq_op: Callable, comb_op: Callable) -> Any:
        """Prajna ``fold folder aggrFunc state`` (DSetGenerics.fs:392-435)
        with arbitrary Python state — the faithful slow path via
        rdd.aggregate (cloudpickled closures, per-partition accumulate then
        tree-combine). Use :meth:`agg` whenever the state is expressible as
        columns."""
        return self.df.rdd.aggregate(zero, seq_op, comb_op)

    def reduce(self, fn: Callable) -> Any:
        """Prajna ``reduce reducer`` (DSetGenerics.fs:438-456)."""
        return self.df.rdd.map(tuple).reduce(fn)

    def group_by_key(self, *aggs: Column) -> "DSet":
        """Prajna ``groupByKey`` (DKV.fs:99-131). Default materializes the
        value list per key (order-canonical); passing explicit ``aggs``
        avoids list materialization entirely — at scale ALWAYS prefer an
        aggregate over a collected list (the reference OOMs here by design,
        DKV.fs:119)."""
        self._require_keys()
        if not aggs:
            value_cols = [c for c in self.df.columns if c not in self.key_cols]
            aggs = tuple(
                F.sort_array(F.collect_list(c)).alias(f"{c}_list") for c in value_cols
            )
        return DSet(self.df.groupBy(*self.key_cols).agg(*aggs), self.key_cols)

    def reduce_by_key(self, *aggs: Column) -> "DSet":
        """Prajna ``reduceByKey reduceFunc`` (DKV.fs:133-140) — hash
        aggregate WITH map-side combine (reference lacks it)."""
        self._require_keys()
        return DSet(self.df.groupBy(*self.key_cols).agg(*aggs), self.key_cols)

    def map_reduce(
        self, emit: Column, key: str, *aggs: Column
    ) -> "DSet":
        """Prajna ``mapReduce mapFunc reduceFunc`` (DSetGenerics.fs:
        1399-1470): emit is an array expression exploded to (k, ...) rows,
        then grouped on ``key``."""
        exploded = self.df.select(F.explode(emit).alias(key))
        return DSet(exploded.groupBy(key).agg(*aggs), (key,))

    def distinct(self) -> "DSet":
        """Upgrade (SURVEY §2.6 'missing vs SQL')."""
        return DSet(self.df.distinct(), self.key_cols)

    # ------------------------------------------------------------------
    # Sort / limit (SURVEY §2.7)
    # ------------------------------------------------------------------

    def bin_sort(self, *order_cols: ColumnLike, num_partitions: int | None = None) -> "DSet":
        """Prajna ``binSort partFunc comparer`` (DSetGenerics.fs:1466-1533):
        range-partition + sort within partitions == globally sorted. Spark's
        repartitionByRange adds the reservoir-sampled boundaries the
        reference never implemented (SortBenchmark/ReadMe.txt:33-35)."""
        cols = [_c(c) for c in order_cols]
        n = num_partitions or self.df.sparkSession.sparkContext.defaultParallelism
        return DSet(
            self.df.repartitionByRange(n, *cols).sortWithinPartitions(*cols),
            self.key_cols,
        )

    def order_by(self, *cols: ColumnLike) -> "DSet":
        return DSet(self.df.orderBy(*[_c(c) for c in cols]), self.key_cols)

    def top_k(self, k: int, *cols: ColumnLike) -> "DSet":
        """Upgrade: distributed top-k (TakeOrderedAndProject — per-partition
        heap + k-row merge; the reference folds a bounded heap by hand)."""
        return DSet(self.df.orderBy(*[_c(c) for c in cols]).limit(k), self.key_cols)

    # ------------------------------------------------------------------
    # Joins (SURVEY §2.8)
    # ------------------------------------------------------------------

    def join(
        self, other: "DSet", on: Any, how: str = "inner", broadcast_other: bool = False
    ) -> "DSet":
        """Prajna merge-joins inner/left/right (DKV.fs:205-234) and the
        hash-join design its stubs describe (DKV.fs:236-265: multicast small
        side + dictionary probe == broadcast-hash join, enabled via
        ``broadcast_other``). SQL m×n duplicate-key semantics — documented
        upgrade over the reference's 1:1 merge (function.fs:1186-1190).
        ``how`` also accepts left_semi/left_anti (upgrades)."""
        right = F.broadcast(other.df) if broadcast_other else other.df
        return DSet(self.df.join(right, on, how))

    def cross_join(self, other: "DSet", broadcast_other: bool = True) -> "DSet":
        """Prajna ``crossJoin mapFunc`` (DSetGenerics.fs:1646-1669)."""
        right = F.broadcast(other.df) if broadcast_other else other.df
        return DSet(self.df.crossJoin(right))

    def cross_join_choose(
        self, other: "DSet", pred: Column, broadcast_other: bool = True
    ) -> "DSet":
        """Prajna ``crossJoinChoose`` (DSetGenerics.fs:1670-1694): cross join
        + Option filter == theta-join."""
        return DSet(self.cross_join(other, broadcast_other).df.where(pred))

    def cross_join_fold(
        self, other: "DSet", *aggs: Column, broadcast_other: bool = True
    ) -> DataFrame:
        """Prajna ``crossJoinFold`` (DSetGenerics.fs:1695-1727): aggregate
        directly above the product — pairs fold as they stream, the product
        never materializes."""
        return self.cross_join(other, broadcast_other).df.agg(*aggs)

    # ------------------------------------------------------------------
    # Structural multi-input ops (SURVEY §2.9)
    # ------------------------------------------------------------------

    def merge(self, *others: "DSet") -> "DSet":
        """Prajna ``merge sources`` (DSetGenerics.fs:1535-1557): partition
        concatenation == UNION ALL (no shuffle; partition count = sum)."""
        df = self.df
        for o in others:
            df = df.unionAll(o.df)
        return DSet(df)

    def bypass(self, n: int = 2) -> list["DSet"]:
        """Prajna ``bypass`` (DSetGenerics.fs:1728-1771): fan one DSet out
        to n consumers. Spark: persist once, hand out n references — one
        materialization feeds all branches. Long-lived drivers: wrap use
        in operators.lifecycle.persist_scope() to release the cache."""
        from prajna_spark.operators.lifecycle import scoped_persist

        shared = scoped_persist(self.df)
        return [DSet(shared, self.key_cols) for _ in range(n)]

    def split(self, *projections: Sequence[ColumnLike]) -> list["DSet"]:
        """Prajna ``split2/3/4`` (DSetGenerics.fs:1772-1840): project one
        DSet into N column subsets (the paper's columnar-split pattern)."""
        return [DSet(self.df.select(*[_c(c) for c in proj])) for proj in projections]

    def mix(self, other: "DSet", on: Sequence[str]) -> "DSet":
        """Prajna ``mix``/``map2`` zip (DSetGenerics.fs:1558-1643). The
        reference requires identical partition layout (EstablishCorrelatedMix,
        DSetGenerics.fs:113-129); the deterministic Spark contract is an
        equi-join on a unique natural key — same co-location requirement,
        expressed declaratively (SURVEY §7 hard-part #2)."""
        return DSet(self.df.join(other.df, list(on)))

    def zip_by_order(
        self, other: "DSet", order_left: Sequence[str], order_right: Sequence[str]
    ) -> "DSet":
        """Positional zip of two DSets lacking a shared key: both sides get
        a deterministic index over their total order (operators.zipindex),
        then equi-join on it. The explicit orders replace the reference's
        implicit 'same partition layout' contract."""
        a = self.mapi(order_left, "__zip_idx").df
        b = other.mapi(order_right, "__zip_idx").df
        return DSet(a.join(b, "__zip_idx").drop("__zip_idx"))

    def multicast(self) -> "DSet":
        """Prajna ``multicast`` (DSetGenerics.fs:1334-1363): full replication
        to every node == broadcast hint (torrent broadcast)."""
        return DSet(F.broadcast(self.df), self.key_cols)

    # ------------------------------------------------------------------
    # Read-back (SURVEY §3.2)
    # ------------------------------------------------------------------

    def sample(self, fraction: float, with_replacement: bool = False, seed: int = 42) -> "DSet":
        """Reference parity: the ``SampledWithReplacement`` cache kind
        (storage.fs:55-74) as a first-class operator — per-partition
        Bernoulli/Poisson sampling, no shuffle."""
        return DSet(self.df.sample(with_replacement, fraction, seed), self.key_cols)

    def take(self, n: int) -> list:
        """First n rows (reference ``Seq.take`` test, tests/CoreLib/DSet.fs);
        scans partitions incrementally — never materializes the full set."""
        return self.df.take(n)

    def try_find(self, pred: Column):
        """Prajna ``tryFind`` (tests/CoreLib/DSet.fs test list): first row
        matching the predicate, or None. filter + take(1) — the predicate is
        pushed to the scan and Spark stops after the first non-empty
        partition batch; no full-table pass, no shuffle."""
        rows = self.df.where(pred).take(1)
        return rows[0] if rows else None

    def to_seq(self):
        """Prajna ``DSet.toSeq`` (DSetGenerics.fs:385-390): stream rows back
        to the client -> toLocalIterator (one partition in flight)."""
        return self.df.toLocalIterator()

    def collect(self) -> list:
        return self.df.collect()

    # ------------------------------------------------------------------

    def num_partitions(self) -> int:
        return self.df.rdd.getNumPartitions()

    def _require_keys(self) -> None:
        if not self.key_cols:
            raise ValueError("DKV operation requires key columns; call .by_key(...)")
