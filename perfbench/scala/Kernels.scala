package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, Tables}

/** The `functions` layer: each SQL kernel GraftExtensions registers
  * for the hot queries, applied through SQL over a fixed input built
  * from one table dir and fully materialized. The input is cached
  * first, so the timed statement is the kernel and the scan of
  * cached rows.
  */
object Kernels {
  /** Times each statement `reps` times; rows are the input's row count. */
  def measure(spark: SparkSession, data: String, out: Runner.Tsv, reps: Int = 3): Unit = {
    Tables.load(spark, data, "documents").createOrReplaceTempView("pb_docs")
    Tables.load(spark, data, "embeddings").createOrReplaceTempView("pb_emb")
    // copies of each input row, so one statement runs long enough to time
    val copies = "(SELECT explode(sequence(1, 8)) AS c)"
    val inputs = Seq(
      "fuzz_ratio" -> (s"""SELECT a.text AS l, b.text AS r FROM pb_docs a
        |JOIN pb_docs b ON b.doc_id = a.doc_id + 1 CROSS JOIN $copies""",
        "SELECT fuzz_ratio(l, r) FROM pb_in"),
      "winnow_set" -> (s"SELECT text FROM pb_docs CROSS JOIN $copies",
        "SELECT winnow_set(text, 20, 8) FROM pb_in"),
      "sorted_inter_atleast" -> (s"""SELECT array_sort(winnow_set(a.text, 20, 8)) AS ga,
        |array_sort(winnow_set(b.text, 20, 8)) AS gb FROM pb_docs a
        |JOIN pb_docs b ON b.doc_id = a.doc_id + 1 CROSS JOIN $copies""",
        "SELECT sorted_inter_atleast(ga, gb, 4) FROM pb_in"),
      "srp_code_i64" -> (s"""SELECT transform(embedding,
        |x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
        |FROM pb_emb CROSS JOIN $copies""",
        "SELECT srp_code_i64(sv, 16) FROM pb_in"),
      "maxsim_i64" -> (s"""SELECT transform(a.embedding,
        |x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qq,
        |transform(b.embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS dq
        |FROM pb_emb a JOIN pb_emb b ON b.vec_id % 64 = a.vec_id % 64 AND b.vec_id <> a.vec_id
        |WHERE a.vec_id < 256""",
        "SELECT maxsim_i64(qq, dq) FROM pb_in"))
    inputs.foreach { case (k, (in, stmt)) =>
      val input: DataFrame = spark.sql(in.stripMargin).cache()
      val rows = input.count()
      input.createOrReplaceTempView("pb_in")
      (0 until reps).foreach { _ =>
        val t0 = Runner.now()
        Runner.noop(spark.sql(stmt))
        out.add(k, rows, t0, Runner.now())
      }
      input.unpersist(blocking = true)
      Bench.resetSession(spark)
    }
  }
}
