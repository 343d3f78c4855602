package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the query registry — the contracts the
  * driver's Verify/Bench machinery depends on but nothing previously
  * asserted in one place: unique names, full oracle coverage of the
  * correctness surface, a disjoint bench-only arm set, and the
  * driver-harness column-shape contract (flat columns only).
  */
class RegistrySpec extends AnyFunSuite {

  test("every registered name is unique across suite and bench arms") {
    val names = SparkEntry.queries.keys.toSeq ++
      SparkEntry.benchOnlyQueries.keys.toSeq
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
  }

  test("every correctness-surface query carries a DuckDB oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"suite queries without an oracle (move to benchOnly or add SQL): $missing")
  }

  test("no oracle SQL exists for a query that is not registered") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"orphan oracle SQL entries: $orphans")
  }

  test("bench arms never overlap the correctness surface") {
    val overlap =
      SparkEntry.benchOnlyQueries.keySet intersect SparkEntry.queries.keySet
    assert(overlap.isEmpty, s"queries registered on both sides: $overlap")
  }

  test("the registry is at its committed size (catches silent drops)") {
    assert(SparkEntry.queries.size === 174,
      s"oracle surface moved: ${SparkEntry.queries.size} (update the docs!)")
    assert(SparkEntry.benchOnlyQueries.size === 25,
      s"bench arms moved: ${SparkEntry.benchOnlyQueries.size}")
  }
}

/** The driver's oracle checker canonicalizes Spark output through
  * pandas `sort_values`, which cannot hash array/map/struct cells
  * (r11's `f20_html_extract` failure: `unhashable type:
  * 'numpy.ndarray'`). That makes "flat columns only" a de-facto hard
  * contract for every query on the correctness surface — pin it here
  * so the next array-emitting query fails in `sbt test`, not in the
  * driver's CORRECTNESS artifact. Most builders only resolve a schema;
  * a few (k-means/DSIR fits) run real Spark jobs eagerly at
  * construction, so the sweep does execute work — bounded by the
  * sf0.001 fixture, which keeps it cheap across all 174 queries. Each
  * builds through [[Arm.run]], so a query's run scratch (m03/v19's
  * index dirs) goes as soon as its schema or plan has been read.
  */
class RegistryShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** `f` of each oracle-surface query's frame, in name order. */
  private def eachQuery[T](f: (String, org.apache.spark.sql.DataFrame) => T)
      : Seq[T] =
    SparkEntry.queries.keys.toSeq.sorted.map(name =>
      Arm.run(spark, dir, SparkEntry.arms(name))(f(name, _)))

  test("no oracle-surface query emits a top-level array/map/struct column") {
    val offenders = eachQuery { (name, df) =>
      df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }.toSeq
    }.flatten
    assert(offenders.isEmpty,
      s"driver canonicalizer cannot hash these columns — flatten them " +
        s"(concat_ws/array_to_string, the reference's CSV shape): " +
        offenders.mkString("; "))
  }

  /** The r15 `c17_drift_profile` regression in one sentence: the
    * registry's ONLY raw-decimal output column hash-mismatched in the
    * driver even though rows, schema, and the repo's own
    * `tools/check_oracle.py` all passed — Spark writes
    * decimal128(38,0) parquet, DuckDB shapes its product decimal
    * differently, and the driver's canonicalization (unlike the local
    * checker's `str(Decimal)`) does not collapse them. The same
    * cross-engine-representation hazard holds for float32 (DuckDB
    * REAL → float64 promotion differs) and raw binary. So: every
    * oracle-surface projection must end in a driver-stable type —
    * long/int/short/byte, double, string, boolean, timestamp, date.
    * Decimal/float/binary stay legal INTERNALLY (Drift's decimal(38,0)
    * numerator is load-bearing at 1e10-row slices); cast at the
    * projection boundary, in both the Spark query and the oracle SQL. */
  test("no oracle-surface query emits a decimal/float/binary column") {
    val stable: DataType => Boolean = {
      case LongType | IntegerType | ShortType | ByteType => true
      case DoubleType | StringType | BooleanType => true
      // both timestamp flavors are proven stable: parquet dates arrive
      // as timestamp_ntz and j01/w01/w05 hash green in every driver run
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }
    val offenders = eachQuery { (name, df) =>
      df.schema.fields.collect {
        case f if !stable(f.dataType) =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }.toSeq
    }.flatten
    assert(offenders.isEmpty,
      s"non-driver-stable output types (cast to double/long/string at " +
        s"the projection boundary, mirroring the cast in the oracle " +
        s"SQL — see c17, r15): " + offenders.mkString("; "))
  }

  /** The v13 lesson generalized (VERDICT r16 item 5): a top-k whose
    * sort key can TIE at the boundary returns an arbitrary member of
    * the tie group — correct at every SF where the fixture happens not
    * to tie there, then red the first time a tie straddles rank k (v13
    * hit this only at sf1). EmbeddingPipeline.search fixed its own
    * instance with rank()<=k with-ties; the other global top-k
    * operators on the oracle surface (TakeOrderedAndProject and the
    * KnnTopK rewrite — v08/x04/r14 family) must instead be TOTAL
    * orders: a tiebreak key after the value key makes the selected set
    * unique regardless of ties, at every scale. Pin it structurally:
    * no single-key global top-k node may appear in any oracle-surface
    * physical plan. (Window-rank group top-ks are covered by the same
    * rule at authoring time; they don't surface as a dedicated node,
    * so the existing per-query oracles carry them.) */
  test("every global top-k node on the oracle surface has a tiebreak key") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val offenders = eachQuery { (name, df) =>
      df.queryExecution.sparkPlan.collect {
        case t: TakeOrderedAndProjectExec if t.sortOrder.size < 2 =>
          s"$name: TakeOrderedAndProject(${t.sortOrder.mkString(", ")})"
        case k: graft.plans.KnnTopKExec if k.order.size < 2 =>
          s"$name: KnnTopK(${k.order.mkString(", ")})"
      }
    }.flatten
    assert(offenders.isEmpty,
      s"single-key global top-k can straddle a tie group at some SF " +
        s"(the v13 class) — add a unique tiebreak to the orderBy in " +
        s"both engines: " + offenders.mkString("; "))
  }
}
