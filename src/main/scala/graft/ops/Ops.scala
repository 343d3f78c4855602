package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational combinators — the operator families of SURVEY.md §2 as a
  * reusable library API (the suites in graft.queries are the
  * oracle-checked instantiations of these shapes).
  */
object Ops {

  /** Deterministic keep-first dedup (D1/W3; pandas
    * `drop_duplicates(keep='first')`) as an AGGREGATE: per key, the row
    * whose ASCENDING `orderCols` sort first. `min(struct(orderCols ++
    * rest))` compares lexicographically, so Spark plans a map-side
    * partial aggregate — each input partition collapses to one
    * candidate row per key before the exchange, where a
    * `row_number()` window would shuffle and sort EVERY row. The
    * remaining payload columns sit after the order columns in the
    * struct, so order ties still resolve totally (deterministic output
    * even when `orderCols` alone is not a total order). Output columns
    * keep the input order. Nulls sort first. */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val rest = df.columns.filterNot(c =>
      keys.contains(c) || orderCols.contains(c))
    val packed = (orderCols ++ rest).map(col)
    val agg = df.groupBy(keys.map(col): _*)
      .agg(min(struct(packed: _*)).as("__first"))
    agg.select(df.columns.toSeq.map(c =>
      if (keys.contains(c)) col(c)
      else col("__first").getField(c).as(c)): _*)
  }

  /** Per-group top-k (generalized O1): partitioned window, never a
    * global sort; ties broken by the caller's order columns. For
    * `k` under `spark.sql.optimizer.windowGroupLimitThreshold` (1000)
    * Spark's InferWindowGroupLimit plans a partial WindowGroupLimit
    * below the exchange, so each map task ships at most k rows per
    * group even when a handful of groups would otherwise funnel the
    * whole input through a handful of tasks (PlanSpec pins the prune
    * on x07, t04 and s11). Keep the filter directly on `rankCol`: an
    * expression over the rank before the filter blocks the rule. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
      orderBy: Seq[Column], k: Int, rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }

  /** Per-group top-k as a mergeable AGGREGATE
    * ([[graft.functions.GroupedTopK]]) — the 100 TB form of
    * [[topKPerGroup]]: no corpus-sized shuffle at all. The partial
    * ObjectHashAggregate reduces every input partition to ≤ groups × k
    * (key,id) pairs map-side; only those buffers cross the exchange.
    * Use when the ranked `key` is (or maps exactly to) a long and the
    * row identity is a long — e.g. kNN distance ranking, count ranking.
    * Rows with a null key or id are excluded (document distances/counts
    * are non-null by construction; a window would instead rank nulls by
    * engine-specific null ordering, which never cross-checks anyway).
    *
    * Output: groupCols ++ (keyName, idName, rankCol), rank 1-based in
    * `descending ? key desc : key asc, id asc` order — identical rows
    * to [[topKPerGroup]] with that ordering. Descending rides bitwise
    * NOT, an order-reversing bijection on longs (no MinValue overflow).
    */
  def topKPerGroupAgg(df: DataFrame, groupCols: Seq[String],
      key: Column, id: Column, k: Int,
      keyName: String = "key", idName: String = "id",
      rankCol: String = "rank", descending: Boolean = false): DataFrame = {
    val keyL = key.cast("long")
    val encKey = if (descending) bitwise_not(keyL) else keyL
    val topk = graft.functions.GroupedTopK.topK(k)
    val grouped = df
      .filter(key.isNotNull && id.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(topk(encKey, id.cast("long")).as("__topk"))
      .select(groupCols.map(col) :+
        posexplode(col("__topk")).as(Seq("__pos", "__e")): _*)
    val outKey =
      if (descending) bitwise_not(col("__e").getField("_1"))
      else col("__e").getField("_1")
    grouped.select(groupCols.map(col) ++ Seq(
      outKey.as(keyName),
      col("__e").getField("_2").as(idName),
      (col("__pos") + 1).cast("int").as(rankCol)): _*)
  }

  /** Key-based upsert — the MERGE INTO semantic on plain storage (the
    * incremental-ETL op: new extract rows replace same-key rows, the
    * rest of the base survives). Relationally: updates ∪ (base
    * anti-join updates' keys). Schemas must match by name.
    *
    * PRECONDITION: `updates` must be key-unique — SQL MERGE raises a
    * multiple-match error for a duplicate-key source, and silently
    * keeping both rows would duplicate keys in the result. With
    * `requireUniqueKeys` (default) the precondition is asserted with
    * one aggregation job over `updates` (the small side of an
    * incremental merge); pass false only when uniqueness is already
    * guaranteed upstream. The merge shuffle is one anti-join on the
    * key; at scale write the result partitioned so only touched
    * partitions rewrite (see [[graft.io.Layout]]). */
  def upsertByKey(base: DataFrame, updates: DataFrame,
      keys: Seq[String], requireUniqueKeys: Boolean = true): DataFrame = {
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      s"schema mismatch: base=${base.columns.sorted.mkString(",")} " +
        s"updates=${updates.columns.sorted.mkString(",")}")
    if (requireUniqueKeys) {
      val dup = updates.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"upsertByKey: updates contain duplicate key " +
          s"${keys.mkString("(", ",", ")")}=" +
          s"${dup.headOption.map(_.toSeq.init.mkString(",")).getOrElse("")}" +
          " (SQL MERGE multiple-match)")
    }
    val survivors = base.join(updates.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    updates.unionByName(survivors)
  }

  /** Union across drifting schemas (U1; staging headers drift in column
    * order in the reference — positional union is wrong). */
  def unionByNameAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Skew-resistant equi-join of a large, skewed left side against a
    * small-but-not-broadcastable right side: the left salts each row
    * into one of `saltN` buckets; the right is replicated saltN times;
    * the join key becomes (key, salt) — hot keys spread over saltN
    * reducers. Use when AQE's skew handling isn't enough (e.g. one key
    * is >> a partition). Result equals a plain inner join. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltN: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(saltN)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltN - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Except-by-key (D4 parent-URL removal shape): rows of `df` whose
    * key does not appear in `except`. */
  def exceptByKey(df: DataFrame, except: DataFrame, key: String): DataFrame =
    df.join(except.select(col(key)).distinct(), Seq(key), "left_anti")

  /** Rows whose full tuple repeats (D3 duplicate *detection*). */
  def duplicateRows(df: DataFrame): DataFrame = {
    val cols = df.columns.map(col).toSeq
    df.groupBy(cols: _*).agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Dense sequential 1-based ids at fact scale (A2/W2) — delegates to
    * the zipWithIndex path (no single-partition window). */
  def withDenseId(df: DataFrame, idCol: String,
      sortCols: Seq[String]): DataFrame =
    graft.etl.Normalize.zipWithIndexId(df.sort(sortCols.map(col): _*), idCol)

  /** Keyed point-in-interval join via time-bucketing (the generalized
    * e09 shape; Spark would otherwise plan the non-equi time predicate
    * as a per-key filter after a row-multiplying join). Each interval
    * row replicates into the fixed-width buckets it covers (map-side
    * explode, bounded by span/bucketWidth); each point computes its
    * single bucket; the join is EQUI on (key, bucket) — shuffle-
    * partitionable, AQE/skew-handled like any keyed join — and the
    * exact `start <= t <= end` containment filters after. A point's
    * bucket intersects a covering interval exactly once, so no
    * distinct is needed: output = one row per (point, covering
    * interval), the naive theta-join's answer without its fan-out.
    *
    * Pick `bucketWidth` near the typical interval span: intervals
    * replicate ~span/width times (a 7-day interval over 1-day buckets
    * is 8 rows), while a too-wide bucket degrades toward the naive
    * join inside each bucket. Time columns are numeric (unix micros —
    * cast timestamps with `unix_micros` upstream). */
  def pointInIntervalJoin(points: DataFrame, intervals: DataFrame,
      key: String, tCol: String, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "pointInIntervalJoin: bucketWidth must be > 0")
    val b = lit(bucketWidth)
    val iv = intervals.withColumn("__bucket",
      explode(sequence(floor(col(startCol) / b).cast("long"),
        floor(col(endCol) / b).cast("long"))))
    val pt = points.withColumn("__bucket",
      floor(col(tCol) / b).cast("long"))
    pt.join(iv, Seq(key, "__bucket"))
      .filter(col(tCol) >= col(startCol) && col(tCol) <= col(endCol))
      .drop("__bucket")
  }

  /** As-of join (the time-series "most recent right row at or before
    * each left row" operator; DuckDB/kdb `ASOF JOIN`, pandas
    * `merge_asof`). Spark has no native operator; the naive forms are
    * both scale-broken: a range theta-join multiplies every left row by
    * every earlier right row before the per-left argmax prunes it, and
    * a per-left correlated subquery re-scans the right side. This is
    * the union+carry-forward form instead: tag the two sides, shuffle
    * BOTH once on the key, sort each partition by (time, tag), and let
    * `last(_r, ignoreNulls)` carry the latest right payload forward
    * into each left row. Cost = one exchange per side + one
    * per-partition sort — a sort-merge join's profile with ZERO pair
    * multiplication, and the right plan at 100 TB (skewed keys salt
    * exactly like any keyed shuffle).
    *
    * Semantics (by `direction`, pandas `merge_asof` parity): BACKWARD
    * (default) matches the right row with the greatest
    * `rightTime <= leftTime` and equal key; FORWARD the smallest
    * `rightTime >= leftTime`; NEAREST whichever is closer, exact ties
    * preferring the backward match. Unmatched left rows keep null
    * payloads (ASOF LEFT JOIN). Equal times match inclusively in every
    * direction (right sorts before left at the same instant). If
    * several right rows share (key, time) the LAST in (key, time,
    * payload-struct) order wins, deterministically — unless the
    * payload type is not orderable (contains a map), in which case the
    * winner is arbitrary and the right side must be pre-deduped for a
    * caller-chosen tiebreak. Null left times or keys never match
    * (null-keyed/timed left rows keep null payloads); null right
    * times or keys are dropped before the union.
    *
    * `tolerance` (pandas `merge_asof(tolerance=...)`): when set, a
    * carried match older than `leftTime - tolerance` is nulled out —
    * the bound on `leftTime - rightTime`, typed like the time columns'
    * difference (an INTERVAL literal for timestamps, a number for
    * numeric times). The staleness check is per-row post-window, so the
    * plan is unchanged. */
  sealed trait AsofDirection
  /** Most recent right at-or-before the left time (the default; DuckDB
    * ASOF, pandas `direction='backward'`). */
  case object AsofBackward extends AsofDirection
  /** First right at-or-after the left time (pandas `'forward'`). */
  case object AsofForward extends AsofDirection
  /** Whichever of the two is closer in time; exact ties prefer the
    * backward (earlier) match (pandas `'nearest'`). */
  case object AsofNearest extends AsofDirection

  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String],
      tolerance: Option[Column] = None,
      direction: AsofDirection = AsofBackward): DataFrame =
    asofJoinBy(left, right, Seq(leftKey), Seq(rightKey), leftTime,
      rightTime, rightPayload, tolerance, direction)

  /** Multi-key as-of (pandas `merge_asof(by=[...])`): identical
    * semantics to [[asofJoin]] with a composite equality key — the
    * union shuffles once on ALL key columns, everything else is
    * unchanged. `leftKeys` and `rightKeys` pair positionally. */
  def asofJoinBy(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightPayload: Seq[String],
      tolerance: Option[Column] = None,
      direction: AsofDirection = AsofBackward): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"asofJoinBy: key lists must pair up ($leftKeys vs $rightKeys)")
    val leftCols = left.columns.toSeq
    val kCols = leftKeys.indices.map(i => s"__k$i")
    // nest the payload under the matched right time so the tolerance /
    // nearest checks can see the matched time (and payload field names
    // can never collide with the bookkeeping column)
    val payload = struct(col(rightTime).as("__rt"),
      struct(rightPayload.map(col): _*).as("__p"))
    // null right keys/times can never be matched ("null ... never
    // match", scaladoc): without this filter Window.partitionBy groups
    // null keys together (SQL windows treat null as a regular group
    // value) and a null right time sorts NULLS FIRST in the asc window,
    // so its payload would be carried as a spurious backward match.
    val rClean = right.filter(
      (rightKeys.map(col(_).isNotNull) :+ col(rightTime).isNotNull)
        .reduce(_ && _))
    val rTagged = rClean.select(
      (rightKeys.zip(kCols).map { case (k, a) => col(k).as(a) } ++
        Seq(col(rightTime).as("__t"),
          lit(0).as("__tag"), payload.as("__r")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val lTagged = left.select(
      (leftKeys.zip(kCols).map { case (k, a) => col(k).as(a) } ++
        Seq(col(leftTime).as("__t"),
          lit(1).as("__tag"),
          lit(null).cast(rTagged.schema("__r").dataType).as("__r")) ++
        leftCols.map(col)): _*)
    // backward carry: ascending (time, tag) — rights sort before lefts
    // at equal time, so the == bound is inclusive. Forward carry: the
    // mirror — descending time with rights still first at equal time.
    // Both are ONE window each over the SAME keyed partitioning: the
    // union shuffles once, nearest pays one extra in-partition sort.
    // duplicate right (key, time) rows: the LAST in (key, time,
    // payload-struct) order wins, deterministically — __r joins the
    // window order as the final term when the payload type is
    // orderable (a map-typed payload falls back to the documented
    // "pre-dedupe required" caveat rather than failing analysis).
    val rOrderable = org.apache.spark.sql.catalyst.expressions
      .RowOrdering.isOrderable(rTagged.schema("__r").dataType)
    val tieTerms: Seq[Column] =
      if (rOrderable) Seq(col("__r").asc_nulls_first) else Nil
    val wBwd = Window.partitionBy(kCols.map(col): _*)
      .orderBy(col("__t").asc +: col("__tag").asc +: tieTerms: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(kCols.map(col): _*)
      .orderBy(col("__t").desc +: col("__tag").asc +: tieTerms: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwdOk = tolerance match {
      case Some(tol) => when(col("__bwd").isNotNull &&
        col("__t") - col("__bwd").getField("__rt") <= tol, col("__bwd"))
      case None => col("__bwd")
    }
    val fwdOk = tolerance match {
      case Some(tol) => when(col("__fwd").isNotNull &&
        col("__fwd").getField("__rt") - col("__t") <= tol, col("__fwd"))
      case None => col("__fwd")
    }
    val unioned = rTagged.unionByName(lTagged)
    val matched = direction match {
      case AsofBackward => unioned
        .withColumn("__bwd", last(col("__r"), ignoreNulls = true).over(wBwd))
        .withColumn("__m", bwdOk)
      case AsofForward => unioned
        .withColumn("__fwd", last(col("__r"), ignoreNulls = true).over(wFwd))
        .withColumn("__m", fwdOk)
      case AsofNearest => unioned
        .withColumn("__bwd", last(col("__r"), ignoreNulls = true).over(wBwd))
        .withColumn("__fwd", last(col("__r"), ignoreNulls = true).over(wFwd))
        .withColumn("__b", bwdOk).withColumn("__f", fwdOk)
        .withColumn("__m",
          when(col("__b").isNull, col("__f"))
            .when(col("__f").isNull, col("__b"))
            .when(col("__t") - col("__b").getField("__rt") <=
              col("__f").getField("__rt") - col("__t"), col("__b"))
            .otherwise(col("__f")))
    }
    // null LEFT keys/times never match either: a null left time sorts
    // last in the desc window (NULLS LAST) and would otherwise pick up
    // a carried forward match. Null left rows stay in the output with
    // null payload (left-join semantics), so guard rather than filter.
    val leftValid =
      (kCols.map(col(_).isNotNull) :+ col("__t").isNotNull).reduce(_ && _)
    matched
      .filter(col("__tag") === 1)
      .withColumn("__mp", when(leftValid, col("__m")).getField("__p"))
      .select(leftCols.map(col) ++
        rightPayload.map(c => col("__mp").getField(c).as(c)): _*)
  }
}
