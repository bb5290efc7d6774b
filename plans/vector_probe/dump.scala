// Dumps the formatted plans of one vector_probe-shaped query batch through
// Similarity.ivfTopKMultiIndexed, with the Spark jobs it starts, to $PLAN_OUT.
// Run from a built checkout (sbt compile) with the graft.Sessions.local
// settings passed as --conf flags:
//
//   PLAN_TAG=after PLAN_OUT=plans/vector_probe/ivf_topk_multi_indexed_after.txt \
//   spark-shell --master 'local[4]' --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.adaptive.coalescePartitions.parallelismFirst=false \
//     --conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true \
//     --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -i plans/vector_probe/dump.scala
import graft.operators.Similarity
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
val ss = spark
ss.sparkContext.setLogLevel("WARN")
val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
ss.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
})
val tag = sys.env("PLAN_TAG")
val dir = java.nio.file.Files.createTempDirectory("plan-ivf").toString + "/idx"
val emb = Similarity.clusteredEmbeddings(ss, 16, 625, 32, 0.1)
val cents = Similarity.kMeansCentroidsSampled(emb, "vec_id", "embedding", 32, 16, 0.25)
Similarity.ivfWriteIndex(emb, "vec_id", "embedding", 32, 16, dir, cents)
graft.pipeline.Tombstones.delete(ss.range(0, 10000, 97).toDF("id"), "id", dir, Some("d0"))
val qids = Seq(1L, 1252L, 2503L, 3754L, 5005L, 6256L, 7507L, 8758L)
// warm once so the measured batch is a steady-state one
Similarity.ivfTopKMultiIndexed(ss, dir, qids, 10, 4).collect()
val j0 = jobs.get
val t0 = System.nanoTime
val df = Similarity.ivfTopKMultiIndexed(ss, dir, qids, 10, 4)
val j1 = jobs.get
val t1 = System.nanoTime
val initial = df.queryExecution.explainString(FormattedMode)
val rows = df.collect()
Thread.sleep(500)
val j2 = jobs.get
val t2 = System.nanoTime
val fin = df.queryExecution.explainString(FormattedMode)
val text = s"# vector_probe query batch: Similarity.ivfTopKMultiIndexed — $tag\n\n" +
  "One batch of 8 top-10 queries, nProbe = 4, on a 10,000 x 32 clustered IVF index\n" +
  "with 16 k-means cells and 104 tombstoned ids (the `graft.Sessions.local` settings at 4 cores).\n" +
  f"Spark jobs while building the frame: ${j1 - j0}; during collect(): ${j2 - j1}; rows: ${rows.length}.\n" +
  f"One warm run on a shared 4-core VM: construct ${(t1 - t0) / 1e9}%.3f s, collect ${(t2 - t1) / 1e9 - 0.5}%.3f s.\n\n" +
  "## Initial plan\n\n" + initial + "\n## Final plan (after collect)\n\n" + fin
java.nio.file.Files.write(java.nio.file.Paths.get(sys.env("PLAN_OUT")),
  text.replace(dir, "<index root>").getBytes("UTF-8"))
System.exit(0)
