package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}

import graft.operators.Dedup
import graft.streaming.{SegStore, WinnowStream}

/** `ingest_gate`: the streaming near-dup gate over a SegStore.
  *
  * Set-up ships the corpus (`documents`) as batch 0. An operation
  * appends one delta file to the stream's source dir and runs the gate
  * until that batch commits: one trigger, after the previous commit.
  * After each commit the store dir is walked for the bytes the trigger
  * wrote and the active segment count. The output check runs after the
  * timed region: the index must equal the winnowing fingerprints of
  * the distinct docs fed, and the df table must agree with it.
  */
final class IngestGate(plan: Runner.Plan, runDir: String, triggers: Runner.Tsv)
    extends Runner.Workload {
  private val root = s"$runDir/gate"
  private var seq = 0
  private val fed = mutable.ArrayBuffer.empty[String]
  private val seen = mutable.Map.empty[String, (Long, Long)]

  private def src = s"$root/src"
  private def store = s"$root/store"

  def corpus: String = s"${plan.data}/documents.parquet"

  override def prepare(spark: SparkSession): Unit = {
    new File(src).mkdirs()
    trigger(spark, corpus, "setup", null, trace = false)
  }

  def run(spark: SparkSession, name: String, id: String, tr: Runner.Tracer,
      trace: Boolean): Unit =
    if (!trace) trigger(spark, s"$runDir/deltas/$name", id, null, trace)
    else tr.span("op", id) {
      spark.sparkContext.setJobGroup(s"$id:trigger", name, interruptOnCancel = false)
      trigger(spark, s"$runDir/deltas/$name", id, tr, trace)
    }

  /** Append `file` and run the gate for the one batch it makes. */
  private def trigger(spark: SparkSession, file: String, id: String,
      tr: Runner.Tracer, trace: Boolean): Unit = {
    val w0 = System.currentTimeMillis()
    val t0 = Runner.now()
    Files.copy(Paths.get(file), Paths.get(src, f"$seq%05d.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    seq += 1
    fed += file
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = WinnowStream.nearDupGateStream(stream, store, s"$root/out", s"$root/ckpt",
      compactEvery = plan.compactEvery, buckets = plan.buckets)
    q.awaitTermination()
    val t1 = Runner.now()
    val w1 = System.currentTimeMillis()
    val prog = q.recentProgress.filter(_.numInputRows > 0).lastOption
    def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k))).map(_.longValue).getOrElse(-1L)
    val batchId = prog.map(_.batchId).getOrElse(-1L)
    val written = walkWritten()
    val active = SegStore.active(spark, store)
    val compacted = active.exists(s => s.base && s.id == batchId)
    triggers.add(id, batchId, t0, t1, w0, w1, dur("triggerExecution"), dur("addBatch"),
      written, active.size, if (compacted) 1 else 0, new File(file).length(),
      prog.map(_.numInputRows).getOrElse(0L))
  }

  /** Bytes of files under the store that are new or changed since the last walk. */
  private def walkWritten(): Long = {
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else {
        val sig = (f.length(), f.lastModified())
        if (!seen.get(f.getPath).contains(sig)) { bytes += f.length(); seen(f.getPath) = sig }
      }
    walk(new File(store))
    bytes
  }

  override def finish(spark: SparkSession, summary: Runner.Tsv): Unit = {
    summary.add("store_bytes", Runner.dirBytes(new File(store)))
    summary.add("fed_bytes", fed.map(f => new File(f).length()).sum)
    summary.add("flags_dir", s"$root/out")
    val docs = spark.read.schema("doc_id LONG, text STRING").parquet(fed.toSeq: _*)
      .dropDuplicates("doc_id")
    val (fp, df) = WinnowStream.readIndex(spark, store)
    val truth = Dedup.winnowFp(docs)
    val fpOk = fp.exceptAll(truth).isEmpty && truth.exceptAll(fp).isEmpty
    val derived = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val dfOk = df.exceptAll(derived).isEmpty && derived.exceptAll(df).isEmpty
    summary.add("check_index", if (fpOk) "ok" else "index != winnowFp(fed docs)")
    summary.add("check_df", if (dfOk) "ok" else "df table inconsistent with fp index")
  }
}
