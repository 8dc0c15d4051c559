package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Reference-parity operators (SURVEY.md §2.1-§2.3), re-expressed Spark-first
  * over the TESTDATA tables. The role mapping (FIXTURES.md §A): `events.ts` ↔
  * incident Date, `event_type` ↔ Category, `user_id % 10` ↔ PdDistrict.
  *
  * Every function is DataFrame-in/DataFrame-out and purely declarative so
  * Catalyst plans the whole pipeline (scan-level column pruning, partial
  * aggregation before the shuffle, broadcast dictionary joins).
  */
object Parity {

  /** The district analog: 10 synthetic "districts" from user_id buckets. */
  def districtOf(userId: Column): Column =
    concat(lit("D"), lpad(pmod(userId, lit(10)).cast("string"), 2, "0"))

  /** A2 (`SanFranciscoCrime.ReduceByWeek`, SanFranciscoCrime.java:154-210):
    * weekly incident-count histogram per key, dense buckets. The reference
    * emits a 16-slot CSV vector; here `pivot` with an explicit bucket domain
    * restores the dense shape (absent buckets zero-filled), which also keeps
    * the output schema static for the oracle. One shuffle: the partial/final
    * HashAggregate pair Hadoop's missing combiner never provided.
    */
  def weeklyHistogram(events: DataFrame, key: Column, keyName: String,
      buckets: Seq[Int]): DataFrame =
    events
      .select(key.as(keyName), week_of_month(to_date(col("ts"))).as("w"))
      .groupBy(col(keyName))
      .pivot("w", buckets)
      .count()
      .na.fill(0L)
      .toDF(keyName +: buckets.map(b => s"w$b"): _*)
      .orderBy(col(keyName))

  /** The reference's declared-but-never-wired day-of-week mappers
    * (`CategoryMapByDotw`/`DistrictMapByDotw`, SanFranciscoCrime.java:110-126,
    * SURVEY §2.3 "unused-but-present"): histogram per key over day names. */
  def dotwHistogram(events: DataFrame, key: Column, keyName: String): DataFrame = {
    val days = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
      "Saturday", "Sunday")
    events
      .select(key.as(keyName), date_format(col("ts"), "EEEE").as("dow"))
      .groupBy(col(keyName))
      .pivot("dow", days)
      .count()
      .na.fill(0L)
      .toDF(keyName +: days.map(_.toLowerCase): _*)
      .orderBy(col(keyName))
  }

  /** A2 in long (sparse) form: (key, bucket, n). Same aggregation without the
    * pivot — the form that scales to arbitrary bucket domains at 100 TB. */
  def weeklyHistogramLong(events: DataFrame, key: Column, keyName: String): DataFrame =
    events
      .select(key.as(keyName), month_week_bucket(to_date(col("ts"))).as("bucket"))
      .groupBy(col(keyName), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col(keyName), col("bucket"))

  /** A3 (`SanFranciscoCrimePrepOlap.Reduce`, :155-206): daily
    * date × category × district counts, naturally sparse — `groupBy.count`
    * produces only non-zero cells, exactly like the reference's non-zero
    * triplet emission. */
  def dailyCube(events: DataFrame): DataFrame =
    events
      .select(
        to_date(col("ts")).as("d"),
        col("event_type"),
        districtOf(col("user_id")).as("district"))
      .groupBy("d", "event_type", "district")
      .agg(count(lit(1)).as("n"))
      .orderBy("d", "event_type", "district")

  /** A4 (`categoryTotals.awk`): group-by-count of categories, ordered. */
  def categoryTotals(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type")

  /** A6 (`DataFile.extractKeys` + `LoadStarDB.setup`): distinct non-null
    * values of a column, sorted, with 1-based dense ids = sorted rank. The
    * reference assigns dictionary ids by sorted insertion order; a sorted
    * single-partition pass reproduces that deterministically.
    *
    * The id pass is one task by design: every dictionary here is a
    * dimension table (5-40 names, ~2.4k dates), and the distinct() shuffle
    * shrinks the input to that before the merge. `coalesce`, not
    * `repartition`: a narrow merge into the id task, no extra exchange. In
    * that one partition `monotonically_increasing_id` counts 0, 1, 2, ...
    * in sorted order, so the id is codegen arithmetic, and being
    * nondeterministic it also keeps the optimizer from dropping the sort.
    * No trailing orderBy: callers that expose a dictionary sort at the
    * output boundary; broadcast-join callers need no order. A
    * high-cardinality key wants [[Rank.groupRanks]] or hash ids instead.
    */
  def dictionary(df: DataFrame, column: String, idName: String, nameName: String): DataFrame =
    df.select(col(column).as(nameName))
      .where(col(nameName).isNotNull)
      .distinct()
      .coalesce(1)
      .sortWithinPartitions(col(nameName))
      .select((monotonically_increasing_id() + 1).cast("int").as(idName), col(nameName))

  /** P5 (`MapReduceJobBase.getKeyDate`/`formatKey`): normalize a timestamp to
    * the reference's `yyyy/MM/dd` sort-stable string key. */
  def dateNormalize(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), date_format(col("ts"), "yyyy/MM/dd").as("d"))
      .orderBy("event_id")

  /** A3 + A6 composed (`SanFranciscoCrimePrepOlap.java:155-225`): the
    * OLAP-prep job's output, daily counts keyed by 0-based dictionary ids
    * instead of names. Input `(d: date, category, district)`; output
    * `(d "yyyy/MM/dd", cat_idx int, dist_idx int, n bigint)`, sorted.
    *
    * The reference probes driver-local static HashMaps (single-JVM only);
    * here the dictionaries are broadcast joins, the same hash probe but
    * correct on a cluster. They come from pruned one-column scans of the
    * input, NOT from the aggregate: each dictionary branch would prune the
    * aggregate differently, so Spark could not reuse one exchange and the
    * whole scan+shuffle would run three times (measured +0.7 s at sf0.1).
    */
  def indexedDailyCube(cells: DataFrame): DataFrame =
    cells.groupBy("d", "category", "district")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(dictionary(cells, "category", "cat_id", "category")), "category")
      .join(broadcast(dictionary(cells, "district", "dist_id", "district")), "district")
      .select(
        date_format(col("d"), "yyyy/MM/dd").as("d"),
        (col("cat_id") - 1).as("cat_idx"),
        (col("dist_id") - 1).as("dist_idx"),
        col("n"))
      .orderBy("d", "cat_idx", "dist_idx")

  /** [[indexedDailyCube]] over events: `event_type` is the category,
    * [[districtOf]] the district. */
  def dailyCubeIndexed(events: DataFrame): DataFrame =
    indexedDailyCube(events.select(to_date(col("ts")).as("d"),
      col("event_type").as("category"), districtOf(col("user_id")).as("district")))
}
