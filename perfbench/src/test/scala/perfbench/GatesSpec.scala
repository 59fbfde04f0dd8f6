package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every correctness gate accepts a good result and rejects the same
  * result with one row dropped or one value perturbed. */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "target/test-warehouse").getOrCreate()
  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  /** A small lake-shaped frame: (vehicle_id, event_ts, geometry, value). */
  private def lake: DataFrame = {
    import spark.implicits._
    (0 until 40).map(i => (s"veh_${i % 8}", 1700000000L + 15L * (i / 8),
      Array[Byte](1, i.toByte), 0.1 * i))
      .toDF("vehicle_id", "t", "geometry", "value")
      .withColumn("event_ts", timestamp_seconds(col("t"))).drop("t")
  }
  private def dropOne(df: DataFrame): DataFrame =
    df.orderBy("vehicle_id", "event_ts").limit(df.count().toInt - 1)
  /** Adds 1e-3 to `value` of exactly one row. */
  private def perturbOne(df: DataFrame): DataFrame =
    df.withColumn("value", when(col("vehicle_id") === "veh_3" &&
      col("event_ts") === timestamp_seconds(lit(1700000015L)), col("value") + 1e-3)
      .otherwise(col("value")))

  test("lake rows must equal the committed polls' entity counts") {
    assert(Gates.lakeRowsMatch(lake.count(), 40).ok)
    assert(!Gates.lakeRowsMatch(dropOne(lake).count(), 40).ok)
    assert(!Gates.lakeRowsMatch(lake.union(lake.limit(1)).count(), 40).ok)
  }

  test("a (vehicle_id, event_ts) key written twice is rejected") {
    assert(Gates.noDuplicateKeys(lake).ok)
    // perturb one row's timestamp onto another row's key
    val dup = lake.withColumn("event_ts", when(col("vehicle_id") === "veh_3" &&
      col("event_ts") === timestamp_seconds(lit(1700000015L)),
      timestamp_seconds(lit(1700000000L))).otherwise(col("event_ts")))
    assert(!Gates.noDuplicateKeys(dup).ok)
  }

  test("a file without a geo footer is rejected") {
    val files = Seq("a.parquet" -> true, "b.parquet" -> true)
    assert(Gates.geoFooters(files).ok)
    assert(!Gates.geoFooters(files :+ ("c.parquet" -> false)).ok)
    assert(!Gates.geoFooters(Nil).ok)
  }

  test("hot and cold zones must hold the same row multiset") {
    val hot = Gates.digest(lake)
    assert(Gates.sameMultiset(hot, Gates.digest(lake.repartition(3))).ok)
    assert(!Gates.sameMultiset(hot, Gates.digest(dropOne(lake))).ok)
    assert(!Gates.sameMultiset(hot, Gates.digest(perturbOne(lake))).ok)
  }

  test("the flagship output must be identical on both zones") {
    val rows = lake.collect().toSeq
    assert(Gates.sameResult("f", rows, rows.reverse).ok)
    assert(!Gates.sameResult("f", rows, rows.tail).ok)
    assert(!Gates.sameResult("f", rows, perturbOne(lake).collect().toSeq).ok)
  }

  test("reliability outside [0, 1] is rejected") {
    val rel = Seq(0.0, 0.25, 0.9, 1.0)
    assert(Gates.inUnitInterval("r", rel).ok)
    assert(!Gates.inUnitInterval("r", rel.updated(1, 1.0 + 1e-9)).ok)
    assert(!Gates.inUnitInterval("r", rel.updated(2, -0.1)).ok)
    assert(!Gates.inUnitInterval("r", Nil).ok)
  }

  test("the MV must equal the batch query in both directions") {
    assert(Gates.exceptAllBoth("mv", lake, lake.repartition(2)).ok)
    assert(!Gates.exceptAllBoth("mv", lake, dropOne(lake)).ok)
    assert(!Gates.exceptAllBoth("mv", dropOne(lake), lake).ok)
    assert(!Gates.exceptAllBoth("mv", lake, perturbOne(lake)).ok)
  }

  test("a catalog result must match its recorded digest") {
    val d = Gates.digestString(Gates.digest(lake, roundDoubles = Some(6)))
    val recorded = Map("q" -> d)
    assert(Gates.digestsMatch(Map("q" -> d), recorded).ok)
    assert(!Gates.digestsMatch(Map("q" -> Gates.digestString(
      Gates.digest(dropOne(lake), Some(6)))), recorded).ok)
    assert(!Gates.digestsMatch(Map("q" -> Gates.digestString(
      Gates.digest(perturbOne(lake), Some(6)))), recorded).ok)
    // a last-ulp difference in a floating column does not count
    val ulp = lake.withColumn("value", col("value") + 1e-15)
    assert(Gates.digestsMatch(Map("q" -> Gates.digestString(
      Gates.digest(ulp, Some(6)))), recorded).ok)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 90.0 && xs.count(_ > v) >= 10)
    assert(Stats.tail((1 to 12).map(_.toDouble))._1 == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
