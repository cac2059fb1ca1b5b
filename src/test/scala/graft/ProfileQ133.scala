package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ad-hoc stage decomposition of the q133/q78 clustering pipeline at sf0.1
  * — run with `sbt "Test/runMain graft.ProfileQ133"`. Not part of the
  * test suite.
  *
  * Reproduces the dedupClusters stages inline (the helper is private and
  * session-cached, which would hide the per-stage costs) with the same
  * shapes: mask build, set distinct, set cross-join pairs, components
  * loop, doc mapping, and q133's final aggregations. Timings are
  * `toRdd.count()` where a stage is not already materialized by
  * construction — `Dataset.count()` lets the optimizer prune the very
  * stage being timed (the ProfileQ50 lesson, BASELINE round-5).
  */
object ProfileQ133 {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.1"
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[q133] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val docsDf = graft.sources.Tables.read(spark, dir, "documents")
    docsDf.count() // warm scan

    val docToks = docsDf
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val vocab = docToks.select(col("doc_id"), explode(col("toks")).as("tok"))
      .agg(sort_array(collect_set(col("tok"))).as("vocab"))
    val masks0 = docToks.crossJoin(broadcast(vocab))
      .select(col("doc_id"), expr(
        "aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> " +
          "acc | shiftleft(CAST(1 AS BIGINT), " +
          "CAST(array_position(vocab, t) AS INT) - 1))").as("mask"))
    val masks = time("masks build+checkpoint")(masks0.localCheckpoint())
    val sets = masks.select("mask").distinct()
    val pairs0 = sets.select(col("mask").as("m1"))
      .crossJoin(sets.select(col("mask").as("m2")))
      .filter(col("m1") < col("m2"))
      .withColumn("inter", expr("bit_count(m1 & m2)"))
      .withColumn("uni", expr("bit_count(m1 | m2)"))
      .filter(col("inter") / col("uni") > 0.8)
    val pairs = time("set pairs build+checkpoint")(pairs0.localCheckpoint())
    println(s"[q133] masks=${masks.count()} sets=${sets.count()} pairs=${pairs.count()}")

    val setRep = masks.groupBy("mask").agg(min(col("doc_id")).as("srep"))
    val docSet = masks.join(setRep, "mask").select("doc_id", "srep")
    val edges = pairs
      .join(setRep.select(col("mask").as("m1"), col("srep").as("src")), "m1")
      .join(setRep.select(col("mask").as("m2"), col("srep").as("dst")), "m2")
      .select("src", "dst")
    val verts = setRep.select(col("srep").as("id"))
    val comp = time("connected components") {
      graft.functions.Components.connectedComponents(verts, edges)
    }
    val clusters = docSet.join(comp, docSet("srep") === comp("id"))
      .select(col("doc_id"), col("rep").as("cluster_rep"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
    time("doc mapping + size window")(clusters.queryExecution.toRdd.count())

    val toks = docsDf.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val roi = clusters.join(toks, "doc_id")
      .groupBy("cluster_size")
      .agg(countDistinct(col("cluster_rep")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("doc_id") =!= col("cluster_rep"), col("n_tokens"))
          .otherwise(0L)).as("tokens_removable"))
      .orderBy("cluster_size")
    time("q133 final aggregations")(roi.queryExecution.toRdd.count())

    // The declared path end-to-end, cold cache (new session key) vs warm.
    time("declared q133 (fresh session)") {
      Registry.queries("q133_dedup_roi")(spark.newSession(), dir).count()
    }
    time("declared q78 (cache ride)") {
      Registry.queries("q78_dedup_clusters")(spark, dir).count()
    }
    // No spark.stop(): TestSpark.spark is suite-shared; Test/runMain forks,
    // so JVM exit cleans up (see ProfileQ130 for the rationale).
  }
}
