package graft.perfbench

import graft.operators.Dedup
import graft.pipeline.{CorpusPipeline, Sinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one corpus_ingest batch hands its checks. */
private final case class Ingested(kept: Long, pairs: Array[(Long, Long, Double)])

/** LLM-corpus curation: each operation runs the FineWeb recipe over one
  * crawl batch, writes the survivors, appends them to the MinHash history
  * index and probes the next batch against that history.
  */
final class CorpusIngest(spark: SparkSession, seed: Long, batchDocs: Int,
                         dir: String) extends Workload {
  private val gen = new CorpusGen(spark, seed, batchDocs)
  private val idx = s"$dir/minhash_index"
  private val curated = s"$dir/curated"
  private val recipe = CorpusPipeline.fineWebRecipe()
  // the index is written with Dedup's defaults; the probe must match them
  private val (shingleN, bands, rowsPerBand) = (3, 8, 4)
  private val inputBytes = scala.collection.mutable.Map.empty[Int, Long]
  private var keptDocs = 0L
  private var keptBytes = 0.0

  private def input(b: Int) = s"$dir/input/batch_$b.parquet"

  val unitName = "documents"
  val checkNames = Seq("no_planted_duplicate_survives",
    "output_ids_subset_of_input", "no_self_pair")

  def roots: Seq[String] = Seq(curated, idx)
  def liveBytes: Long = keptBytes.toLong

  private def ensure(b: Int): Unit =
    if (!inputBytes.contains(b)) inputBytes(b) = gen.write(gen.batch(b), input(b))

  def setup(): Unit = {
    ensure(-1)
    Dedup.minHashWriteIndex(spark.read.parquet(input(-1)), "id", "text", idx,
      shingleN, bands, rowsPerBand)
  }

  def prepare(i: Int): Unit = { ensure(i); ensure(i + 1) }

  private def label(step: CorpusPipeline.Step): String =
    step.getClass.getSimpleName.stripSuffix("$")

  def op(i: Int, tr: Tracer): OpResult = {
    val docs = spark.read.parquet(input(i))
    val survivors = tr.span("CorpusPipeline") {
      if (!tr.enabled) CorpusPipeline.run(docs, "id", "text", recipe)
      else recipe.foldLeft(docs)((d, step) =>
        tr.frame(s"CorpusPipeline.${label(step)}")(
          CorpusPipeline.run(d, "id", "text", Seq(step))))
    }
    val out = s"$curated/batch=$i"
    val kept = tr.span("Sinks.parquet")(Sinks.fullRefresh(survivors, out))
    val w0 = Probes.fsBytesWritten()
    tr.span("Dedup.index_append") {
      Dedup.minHashAppendIndex(spark.read.parquet(out), "id", "text", idx, Some(s"b$i"))
    }
    tr.count("Index.bytes_written", (Probes.fsBytesWritten() - w0).toDouble)
    // The traced run keeps every candidate the bands produce, so it can
    // report how many clear the threshold; the result is filtered the same.
    val threshold = 0.5
    val pairs = tr.span("Dedup.index_probe") {
      val p = Dedup.minHashProbeIndex(spark, idx, spark.read.parquet(input(i + 1)),
        "id", "text", shingleN, bands, rowsPerBand,
        minEstJaccard = if (tr.enabled) 0.0 else threshold)
      val all = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val hits = all.filter(_._3 >= threshold)
      tr.count("Dedup.candidate_pairs", all.length.toDouble)
      tr.count("Dedup.true_pairs", hits.length.toDouble)
      hits
    }
    OpResult(batchDocs.toLong, inputBytes(i) + inputBytes(i + 1), Ingested(kept, pairs))
  }

  def check(i: Int, res: OpResult, c: Checks): Unit = {
    val b = gen.batch(i)
    val out = res.payload.asInstanceOf[Ingested]
    val ids = spark.read.parquet(s"$curated/batch=$i").select("id").collect().map(_.getLong(0)).toSet
    val survivingDups = ids.intersect(b.exact ++ b.urlDup)
    c("no_planted_duplicate_survives", survivingDups.isEmpty,
      s"batch $i: planted duplicates survived: ${survivingDups.toSeq.sorted.take(10)}")
    val inputIds = b.docs.map(_._1).toSet
    c("output_ids_subset_of_input", ids.subsetOf(inputIds) && ids.size == out.kept,
      s"batch $i: ${ids.size} distinct output ids, ${out.kept} rows, " +
        s"${(ids -- inputIds).size} not in the input")
    // The generator never reuses an id, across batches or within one, so
    // this holds unless the probe pairs a document with itself: it cannot
    // show the duplicate-id self-pairs of `Dedup.minHashCandidates`.
    val selfPairs = out.pairs.count(p => p._1 == p._2)
    c("no_self_pair", selfPairs == 0, s"batch ${i + 1} probe: $selfPairs self-pairs")
    keptDocs += out.kept
    keptBytes += out.kept.toDouble * inputBytes(i) / batchDocs
  }

  /** Largest (band, bucket) of the history index, with the write-time
    * banding. Computed once, after the traced operations.
    */
  override def layerFigures(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    val banded = spark.read.parquet(idx).select(col("id"), posexplode(array(
      (0 until bands).map(b => hash((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => element_at(col("sig"), j + 1)): _*)): _*)))
    val maxBucket = banded.groupBy("pos", "col").count().agg(max("count")).head()
    val cand = tr.counts("Dedup.candidate_pairs")
    Map("Dedup.max_bucket_rows" -> (if (maxBucket.isNullAt(0)) 0.0 else maxBucket.getLong(0).toDouble),
      "Dedup.true_pair_ratio" -> (if (cand > 0) tr.counts("Dedup.true_pairs") / cand else 0.0),
      "Index.files" -> Probes.treeFiles(idx).size.toDouble)
  }

  def info: Map[String, Any] = {
    val b = gen.batch(0)
    Map("batch_docs" -> batchDocs,
      "history_docs" -> batchDocs,
      "planted_rates" -> Map("exact" -> gen.exactRate, "url" -> gen.urlRate,
        "near" -> gen.nearRate, "non_english" -> gen.foreignRate,
        "cross_batch_copy" -> gen.crossRate),
      "duplicate_share_batch0" -> (b.exact.size + b.urlDup.size + b.near.size +
        b.crossCopies.size).toDouble / batchDocs,
      "input_bytes_batch0" -> inputBytes.getOrElse(0, 0L),
      "kept_docs" -> keptDocs)
  }
}
