package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** A correctness check on a workload's output. A failed gate fails the
  * run: the result line reports `"correct": false`. */
final case class Gate(name: String, ok: Boolean, detail: String)

object Gates {

  /** Order-free digest of a frame: its row count and the sum of a 64-bit
    * hash of every row (summed as a decimal, so it cannot overflow). Two
    * frames with the same digest hold the same row multiset up to hash
    * collisions. With `roundDoubles`, floating columns are rounded to
    * that many decimals first, so a last-ulp difference in a floating
    * aggregate does not change the digest. */
  def digest(df: DataFrame, roundDoubles: Option[Int] = None): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      (f.dataType, roundDoubles) match {
        case (DoubleType | FloatType, Some(d)) => round(col(s"`${f.name}`").cast("double"), d)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def digestString(d: (Long, BigDecimal)): String = s"${d._1}:${d._2}"

  // ---- ingest_poll ----

  def lakeRowsMatch(lakeRows: Long, committedEntities: Long): Gate =
    Gate("lake_rows_equal_committed_entities", lakeRows == committedEntities,
      s"lake=$lakeRows committed=$committedEntities")

  /** No (vehicle_id, event_ts) key appears in the lake more than once. */
  def noDuplicateKeys(lake: DataFrame): Gate = {
    val dupKeys = lake.groupBy("vehicle_id", "event_ts").count()
      .filter(col("count") > 1).count()
    Gate("no_duplicate_vehicle_event_ts", dupKeys == 0, s"duplicate keys=$dupKeys")
  }

  /** `files` = (file, has a `geo` footer). */
  def geoFooters(files: Seq[(String, Boolean)]): Gate = {
    val missing = files.filterNot(_._2).map(_._1)
    Gate("every_file_has_geo_footer", files.nonEmpty && missing.isEmpty,
      s"files=${files.size} missing=${missing.take(3).mkString(",")}")
  }

  // ---- lake_day ----

  def sameMultiset(hot: (Long, BigDecimal), cold: (Long, BigDecimal)): Gate =
    Gate("hot_cold_same_rows", hot._1 > 0 && hot == cold,
      s"hot=${digestString(hot)} cold=${digestString(cold)}")

  /** Exact equality of two collected results, independent of row order. */
  def sameResult(name: String, a: Seq[Row], b: Seq[Row]): Gate = {
    val (sa, sb) = (a.map(_.toString).sorted, b.map(_.toString).sorted)
    val firstDiff = sa.zipAll(sb, "<none>", "<none>").find(p => p._1 != p._2)
    Gate(name, a.nonEmpty && sa == sb,
      s"rows=${a.size}/${b.size}" + firstDiff.map(d => s" first diff ${d._1} vs ${d._2}").getOrElse(""))
  }

  def inUnitInterval(name: String, xs: Seq[Double]): Gate = {
    val bad = xs.filterNot(x => x >= 0.0 && x <= 1.0)
    Gate(name, xs.nonEmpty && bad.isEmpty, s"n=${xs.size} outside=${bad.take(3).mkString(",")}")
  }

  // ---- catalog_mv ----

  /** Multiset equality through `exceptAll` in both directions. */
  def exceptAllBoth(name: String, a: DataFrame, b: DataFrame): Gate = {
    val (ab, ba) = (a.exceptAll(b).count(), b.exceptAll(a).count())
    val n = a.count()
    Gate(name, n > 0 && ab == 0 && ba == 0, s"rows=$n a-b=$ab b-a=$ba")
  }

  def digestsMatch(observed: Map[String, String],
      recorded: Map[String, String]): Gate = {
    val bad = observed.toSeq.sortBy(_._1).collect {
      case (q, d) if !recorded.get(q).contains(d) =>
        s"$q=$d (recorded ${recorded.getOrElse(q, "none")})"
    }
    Gate("catalog_digests_match_recorded", observed.nonEmpty && bad.isEmpty,
      s"queries=${observed.size} mismatched=${bad.size} ${bad.take(3).mkString("; ")}")
  }
}
