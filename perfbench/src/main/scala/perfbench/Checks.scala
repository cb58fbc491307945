package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks against the generators' ground truth. Each returns the
  * list of mismatches it found; an empty list is a pass.
  */
object Checks {

  // ---- medallion ----

  /** Row count, quantity sum and a row checksum of one (month, company)
    * slice of gold_fact_orders. */
  final case class Digest(rows: Long, qty: Long, crc: Long)

  /** Child rows carry sha2 product codes (64 hex chars); parent codes are
    * short. */
  def isChildCode(productCode: String): Boolean = productCode.length == 64

  def rowCrc(product: String, customer: String, qty: Long): Long = {
    val c = new CRC32
    c.update(s"$product|$customer|$qty".getBytes(UTF_8))
    c.getValue
  }

  def expectedDigest(rows: Map[MedallionGen.Key, Long]): Map[(String, Boolean), Digest] =
    rows.toSeq.groupBy { case ((m, p, _), _) => (m, isChildCode(p)) }.map { case (k, rs) =>
      k -> Digest(rs.length.toLong, rs.map(_._2).sum,
        rs.map { case ((_, p, c), q) => rowCrc(p, c, q) }.sum)
    }

  /** The same digest computed by Spark over the gold fact table. */
  def goldDigest(gold: DataFrame): Map[(String, Boolean), Digest] = {
    val q = col("sold_quantity").cast("bigint")
    gold.select(col("date").cast("string").as("m"),
        (length(col("product_code")) === 64).as("child"), q.as("q"),
        crc32(concat_ws("|", col("product_code"), col("customer_code"), q.cast("string"))
          .cast("binary")).as("crc"))
      .groupBy("m", "child").agg(count(lit(1)), sum("q"), sum("crc"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)) ->
        Digest(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  /** Child months must equal the truth; parent months must be untouched. */
  def compareGold(observed: Map[(String, Boolean), Digest],
      expected: Map[(String, Boolean), Digest]): Seq[String] =
    (observed.keySet ++ expected.keySet).toSeq.sorted.flatMap { k =>
      val who = if (k._2) "child" else "parent"
      (observed.get(k), expected.get(k)) match {
        case (Some(o), Some(e)) if o == e => None
        case (o, e) => Some(s"gold_fact_orders $who month ${k._1}: got $o, want $e")
      }
    }

  def kpiQuantity(observed: Double, expected: Long): Seq[String] =
    if (observed == expected.toDouble) Nil
    else Seq(s"KPI quantity: got $observed, want $expected")

  def monthlyQuantity(observed: Map[String, Double], expected: Map[String, Long]): Seq[String] =
    (observed.keySet ++ expected.keySet).toSeq.sorted.flatMap { m =>
      (observed.get(m), expected.get(m)) match {
        case (Some(o), Some(e)) if o == e.toDouble => None
        case (o, e) => Some(s"monthly trend $m: got $o, want $e")
      }
    }

  // ---- crawl ----

  /** Planted exact copies collapse: each planted group is one md5 group
    * keeping its smallest id with every copy counted. */
  def exactGroups(observed: Map[Long, Long], planted: Map[Long, Long]): Seq[String] =
    planted.toSeq.sorted.flatMap { case (keep, n) =>
      observed.get(keep) match {
        case Some(`n`) => None
        case o => Some(s"exact group keeping $keep: got copies $o, want $n")
      }
    }

  /** Gate survivors equal the docs built to pass it. */
  def keptIds(observed: Set[Long], expected: Set[Long]): Seq[String] = {
    val extra = observed -- expected
    val missing = expected -- observed
    (if (extra.isEmpty) Nil else Seq(s"gate kept unexpected ids ${extra.toSeq.sorted.take(5)}")) ++
      (if (missing.isEmpty) Nil else Seq(s"gate dropped ids ${missing.toSeq.sorted.take(5)}"))
  }

  /** Every planted near-copy pair (smaller id first) is among the pairs. */
  def nearPairs(observed: Set[(Long, Long)], planted: Set[(Long, Long)]): Seq[String] = {
    val missing = planted -- observed
    if (missing.isEmpty) Nil
    else Seq(s"${missing.size} planted near-copy pairs missing, e.g. ${missing.toSeq.sorted.take(3)}")
  }

  /** A self-query returns its source doc. */
  def selfHit(kind: String, source: Long, hits: Seq[Long]): Seq[String] =
    if (hits.contains(source)) Nil
    else Seq(s"$kind self-query for $source returned ${hits.take(10)}")

  // ---- ingest_stream ----

  /** The gate's identity: the indexes hold the base plus exactly the novel
    * streamed docs — every planted copy dropped, every novel doc admitted. */
  def gateTotals(indexed: Set[Long], base: Set[Long], novel: Set[Long],
      planted: Set[Long]): Seq[String] = {
    val leaked = indexed intersect planted
    val lost = (base ++ novel) -- indexed
    val stray = indexed -- base -- novel -- planted
    (if (leaked.isEmpty) Nil else Seq(s"${leaked.size} planted copies admitted, e.g. ${leaked.toSeq.sorted.take(3)}")) ++
      (if (lost.isEmpty) Nil else Seq(s"${lost.size} base/novel docs missing, e.g. ${lost.toSeq.sorted.take(3)}")) ++
      (if (stray.isEmpty) Nil else Seq(s"${stray.size} unknown ids indexed"))
  }
}
