package graft

/** Ad-hoc stage timing for q78 at sf0.1 — run with
  * `sbt "Test/runMain graft.ProfileQ78"`. Not part of the test suite. */
object ProfileQ78 {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.1"
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[q78] $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // warm
    graft.sources.Tables.read(spark, dir, "documents").count()
    time("full q78 (cold)") {
      Registry.queries("q78_dedup_clusters")(spark, dir).count()
    }
    time("full q78 (warm)") {
      Registry.queries("q78_dedup_clusters")(spark, dir).count()
    }
    // No spark.stop(): TestSpark.spark is suite-shared; Test/runMain forks,
    // so JVM exit cleans up (see ProfileQ130 for the rationale).
  }
}
