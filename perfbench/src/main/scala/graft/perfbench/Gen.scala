package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input generator. Every input a workload hands the program is
  * a parquet file written here from the seed alone; the same seed gives
  * byte-identical inputs. Each generator also knows the truth it planted
  * (update, insert, duplicate and delete sets), which the output checks
  * compare against.
  */
object Gen {
  /** A seeded stream of driver-side choices, one per purpose. */
  def rng(seed: Long, purpose: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L ^ purpose.hashCode.toLong)

  /** Uniform [0, 1) from a seeded hash of the given columns. */
  def u01(seed: Long, salt: String, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** A seeded hash bucket in [0, n). */
  def bucket(seed: Long, salt: String, n: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(n))

  def write(df: DataFrame, path: String): Long = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    Probes.treeBytes(path)
  }
}

/** sync_cycle inputs: TPC-H-like orders and lineitem as they stand after
  * each day's batch. Day 0 is the bootstrap snapshot. On day d orders gains
  * a seeded number of new keys and a seeded share of its existing keys
  * changes value; lineitem follows its orders.
  */
final class SyncGen(spark: SparkSession, seed: Long, scale: Double) {
  import Gen._

  /** keyed table -> (key, rows on day 0). Lineitem rows follow orders. */
  val base: Seq[(String, String, Long)] = Seq(
    ("orders", "o_orderkey", (15000 * scale).toLong))
  private val nCust = (1500 * scale).toLong
  private val nPart = (2000 * scale).toLong
  private val nSupp = math.max(20L, (100 * scale).toLong)

  private val r = rng(seed, "sync")
  /** table -> (inserts per day, update share per day) */
  val rates: Map[String, (Long, Double)] = base.map { case (t, _, n) =>
    t -> (math.max(1L, math.round(n * (0.005 + 0.01 * r.nextDouble()))),
      0.01 + 0.02 * r.nextDouble())
  }.toMap

  def rows(table: String, day: Int): Long = {
    val n0 = base.find(_._1 == table).get._3
    n0 + day * rates(table)._1
  }

  /** Keys 1..rows(day) with their version: how many times the key changed
    * up to `day`, and whether it changed on `day` itself.
    */
  private def keyed(table: String, day: Int): DataFrame = {
    val n0 = base.find(_._1 == table).get._3
    val (ins, share) = rates(table)
    val k = col("k")
    val birth = when(k <= n0, lit(0L)).otherwise(
      ((k - n0 + ins - 1) / ins).cast("long"))
    def changed(d: Column): Column =
      d > birth && u01(seed, s"upd-$table", k, d) < share
    val version =
      if (day == 0) lit(0)
      else aggregate(sequence(lit(1L), lit(day.toLong)), lit(0),
        (acc, d) => acc + when(changed(d), 1).otherwise(0))
    spark.range(1, rows(table, day) + 1).select(col("id").as("k"))
      .select(k, version.as("v"),
        (if (day == 0) lit(false) else changed(lit(day.toLong))).as("chg"),
        (k > rows(table, day - 1) && lit(day > 0)).as("ins"))
  }

  private def frame(table: String, day: Int): DataFrame = {
    val k = col("k"); val v = col("v")
    table match {
      case "orders" => keyed(table, day).select(col("chg"), col("ins"),
        k.as("o_orderkey"),
        (bucket(seed, "ocust", nCust, k) + 1).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (bucket(seed, "ostat", 3, k, v) + 1).cast("int")).as("o_orderstatus"),
        round(lit(900.0) + bucket(seed, "oprice", 100000, k) / 10.0 + v * 7.25, 2)
          .as("o_totalprice"),
        date_add(lit(java.sql.Date.valueOf("1994-01-01")),
          bucket(seed, "odate", 1461, k).cast("int")).as("o_orderdate"),
        concat(lit("prio-"), bucket(seed, "oprio", 5, k).cast("string"))
          .as("o_orderpriority"),
        concat(lit("order "), k.cast("string"), lit(" rev "), v.cast("string"))
          .as("o_comment"))
      case "lineitem" =>
        // one to seven lines per order; a line changes with its order
        keyed("orders", day)
          .select(k, v, explode(sequence(lit(1),
            (bucket(seed, "nlines", 7, k) + 1).cast("int"))).as("ln"))
          .select(k.as("l_orderkey"),
            col("ln").as("l_linenumber"),
            (bucket(seed, "lpart", nPart, k, col("ln")) + 1).as("l_partkey"),
            (bucket(seed, "lsupp", nSupp, k, col("ln")) + 1).as("l_suppkey"),
            ((bucket(seed, "lqty", 50, k, col("ln")) + v) % 50 + 1).cast("double")
              .as("l_quantity"),
            round(bucket(seed, "lprice", 100000, k, col("ln")) / 10.0 + 1.0, 2)
              .as("l_extendedprice"),
            date_add(lit(java.sql.Date.valueOf("1994-01-01")),
              bucket(seed, "lship", 1500, k, col("ln")).cast("int")).as("l_shipdate"))
    }
  }

  val tables: Seq[String] = Seq("orders", "lineitem")
  val keyedTables: Seq[String] = base.map(_._1)
  def keyOf(table: String): String = base.find(_._1 == table).map(_._2).get

  /** Writes day `day`'s snapshot of every table under `dir` and returns
    * (bytes written, table -> (planted inserts, planted updates, rows)).
    */
  def writeDay(dir: String, day: Int): (Long, Map[String, (Long, Long, Long)]) = {
    var bytes = 0L
    val truth = tables.map { t =>
      val f = frame(t, day)
      val planted =
        if (t == "lineitem") (0L, 0L, 0L)
        else if (day == 0) (0L, 0L, rows(t, 0))
        else {
          val row = f.agg(sum(when(col("ins"), 1L).otherwise(0L)),
            sum(when(col("chg"), 1L).otherwise(0L)), count(lit(1))).head()
          (row.getLong(0), row.getLong(1), row.getLong(2))
        }
      bytes += write(f.drop("chg", "ins").drop("k", "v"), s"$dir/$t.parquet")
      t -> planted
    }.toMap
    (bytes, truth)
  }
}

/** Documents of one crawl batch plus their planted truth. */
final case class CrawlBatch(docs: Seq[(Long, String, String)], exact: Set[Long],
                            urlDup: Set[Long], near: Set[Long], foreign: Set[Long],
                            crossCopies: Set[Long])

/** corpus_ingest inputs: crawl batches of web pages. Each batch holds fresh
  * English pages plus planted exact copies (same text, new URL), URL
  * duplicates (same page URL spelled differently, new text), near-copies
  * (token edits of a page) and non-English pages, each at a seeded rate,
  * plus exact copies of pages from the previous batch.
  */
final class CorpusGen(spark: SparkSession, seed: Long, val batchDocs: Int) {
  import spark.implicits._
  private val r0 = Gen.rng(seed, "corpus-rates")
  val exactRate: Double = 0.03 + 0.03 * r0.nextDouble()
  val urlRate: Double = 0.03 + 0.03 * r0.nextDouble()
  val nearRate: Double = 0.04 + 0.04 * r0.nextDouble()
  val foreignRate: Double = 0.04 + 0.04 * r0.nextDouble()
  val crossRate: Double = 0.02 + 0.02 * r0.nextDouble()

  private val syll = Seq("ka", "lo", "mi", "ten", "ras", "po", "vel", "dun",
    "shi", "mar", "ot", "ber", "qui", "fen", "gal", "tor", "nu", "spe", "dro", "lin")
  private val vocab: IndexedSeq[String] = {
    val r = Gen.rng(seed, "vocab")
    (0 until 3000).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.size))).mkString)
      .distinct
  }
  private val enStops = IndexedSeq("the", "of", "and", "to", "in", "is", "that",
    "with", "be", "have", "a", "for")
  private val esStops = IndexedSeq("el", "la", "de", "que", "y", "en", "un",
    "una", "los", "por")

  private def sentence(r: scala.util.Random, stops: IndexedSeq[String]): String = {
    val n = 10 + r.nextInt(7)
    (0 until n).map(i => if (i % 3 == 1) stops(r.nextInt(stops.size))
      else vocab(r.nextInt(vocab.size))).mkString(" ").capitalize + "."
  }

  private def page(r: scala.util.Random, stops: IndexedSeq[String]): String = {
    val lines = (0 until 6 + r.nextInt(4)).map(_ => sentence(r, stops))
    val pii = if (r.nextDouble() < 0.1)
      Seq(s"Write to ${vocab(r.nextInt(vocab.size))}.${r.nextInt(99)}@mail.example.org " +
        "for the full details of the offer.")
    else Nil
    (lines ++ pii).mkString("\n")
  }

  private def editTokens(r: scala.util.Random, text: String): String =
    text.split("\n").map { line =>
      line.split(" ").map(w =>
        if (r.nextDouble() < 0.08) vocab(r.nextInt(vocab.size)) else w).mkString(" ")
    }.mkString("\n")

  private def urlVariant(r: scala.util.Random, url: String): String = r.nextInt(4) match {
    case 0 => url + "/"
    case 1 => url + "?utm_source=feed"
    case 2 => url.replace("https://", "HTTPS://").replace(".example", ".EXAMPLE")
    case _ => url + "#top"
  }

  /** Batch -1 is the history the MinHash index starts from. */
  def idBase(batch: Int): Long = (batch + 2).toLong * 1000000L

  private val memo = scala.collection.mutable.Map.empty[Int, CrawlBatch]

  def batch(b: Int): CrawlBatch = memo.get(b) match {
    case Some(x) => x
    case None =>
      val x = make(b)
      memo(b) = x
      memo.keys.filter(_ < b - 1).toSeq.foreach(memo.remove)
      x
  }

  private def make(b: Int): CrawlBatch = {
    val r = Gen.rng(seed, s"batch-$b")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    var exact, urlDup, near, foreign, cross = Set.empty[Long]
    val prev = if (b < 0) Nil else {
      val p = batch(b - 1)
      val planted = p.exact ++ p.urlDup ++ p.near ++ p.foreign ++ p.crossCopies
      p.docs.filterNot(d => planted(d._1))
    }
    for (j <- 0 until batchDocs) {
      val id = idBase(b) + j
      val x = r.nextDouble()
      val pick = if (originals.nonEmpty) docs(originals(r.nextInt(originals.size))) else null
      def fresh(): (Long, String, String) = {
        originals += docs.size
        (id, s"https://site${r.nextInt(5000)}.example/b$b/p$j", page(r, enStops))
      }
      val d =
        if (pick == null) fresh()
        else if (x < exactRate) {
          exact += id
          (id, s"https://mirror${r.nextInt(999)}.example/b$b/m$j", pick._3)
        } else if (x < exactRate + urlRate) {
          urlDup += id
          (id, urlVariant(r, pick._2), page(r, enStops))
        } else if (x < exactRate + urlRate + nearRate) {
          near += id
          (id, s"https://site${r.nextInt(5000)}.example/b$b/n$j", editTokens(r, pick._3))
        } else if (x < exactRate + urlRate + nearRate + foreignRate) {
          foreign += id
          (id, s"https://sitio${r.nextInt(999)}.example/b$b/e$j", page(r, esStops))
        } else if (prev.nonEmpty &&
            x < exactRate + urlRate + nearRate + foreignRate + crossRate) {
          cross += id
          (id, s"https://copy${r.nextInt(999)}.example/b$b/c$j", prev(r.nextInt(prev.size))._3)
        } else fresh()
      docs += d
    }
    CrawlBatch(docs.toSeq, exact, urlDup, near, foreign, cross)
  }

  def write(b: CrawlBatch, path: String): Long =
    Gen.write(b.docs.toDF("id", "url", "text").repartition(4), path)
}

/** vector_probe inputs: clustered unit vectors, with seeded query, append
  * and delete sets. Query ids come from a pool that is never deleted.
  */
final class VectorGen(spark: SparkSession, seed: Long, val rows: Int,
                      val dim: Int = 32, val clusters: Int = 16) {
  import Gen._
  private val centers: Array[Double] = {
    val r = rng(seed, "centers")
    Array.fill(clusters * dim)(r.nextGaussian())
  }

  /** Vectors for ids [from, until): centre of a seeded cluster plus noise. */
  def vectors(from: Long, until: Long): DataFrame = {
    val c = bucket(seed, "cluster", clusters, col("id"))
    val cents = typedLit(centers)
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      element_at(cents, (c * dim + i + 1).cast("int")) +
        (u01(seed, "noise", col("id"), i) - 0.5) * 1.6)
    val norm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    spark.range(from, until)
      .select(col("id"), transform(raw, x => (x / norm).cast("float")).as("v"))
  }

  /** Ids never deleted; queries draw from these. */
  val queryPool: Long = rows / 2
  def queryIds(op: Int, n: Int): Seq[Long] = {
    val r = rng(seed, s"query-$op")
    Seq.fill(n)(1L + r.nextInt(queryPool.toInt)).distinct
  }

  /** Ids of the `n`-th delete set: drawn from the deletable half. */
  def deleteIds(n: Int, size: Int): Seq[Long] = {
    val r = rng(seed, s"delete-$n")
    Seq.fill(size)(queryPool + 1 + r.nextInt((rows - queryPool).toInt)).distinct
  }

  def appendRange(n: Int, size: Int): (Long, Long) = {
    val from = rows.toLong + 1 + n.toLong * size
    (from, from + size)
  }
}
