package graft

import java.util.concurrent.ConcurrentHashMap

import graft.functions.{Components, Ivf, LocalPath, MinHash}
import graft.operators.TextQueries
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rows the weight function of the spec below has seen. A top-level
  * object, so the serialized task closure reaches the same set in local
  * mode instead of a copy. */
object LocalPathSpecWeighed {
  val rows: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
}

/** The bounded driver-local collect, and the fast-path decisions it makes
  * at the default budgets. The both-path equivalence specs (IvfTrainSpec,
  * ComponentsSpec, DedupClusterSpec) pass whichever path runs, so without
  * the pins below a change to a budget or to the heap rule could quietly
  * send production onto the distributed path. */
class LocalPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("collectBounded returns every row under the budget") {
    import spark.implicits._
    val ds = spark.range(0, 100, 1, 4).as[Long]
    val got = LocalPath.collectBounded(ds, 100L)(_ => 1L)
    assert(got.map(_.toSeq.sorted) == Some((0L until 100L).toSeq))
    assert(LocalPath.collectBounded(ds, 99L)(_ => 1L).isEmpty)
    assert(LocalPath.collectBounded(ds, 0L)(_ => 1L).isEmpty)
  }

  test("collectBounded stops weighing rows at the first overflow") {
    import spark.implicits._
    LocalPathSpecWeighed.rows.clear()
    // Weight 3 against a budget of 10: rows 0..3 weigh 12, so the fourth
    // row is the overflow and no later row may be read.
    val got = LocalPath.collectBounded(spark.range(0, 100000, 1, 4).as[Long], 10L) { r =>
      LocalPathSpecWeighed.rows.add(r); 3L
    }
    assert(got.isEmpty)
    val seen = LocalPathSpecWeighed.rows.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    assert(seen.toSet.subsetOf((0L to 3L).toSet), s"weighed rows: ${seen.sorted.mkString(",")}")
  }

  private def fixtureSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    graft.plans.VectorFunctions.register(s)
    s
  }

  for (dir <- Seq(TestSpark.sf0001, "/root/testdata/sf0.01")) {
    test(s"every site takes its driver path at the default budget ($dir)") {
      val s = fixtureSession()
      val vecs = Tables.read(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      assert(Ivf.driverTrain(vecs, "vec_id", "e", 8, 3, Ivf.DriverBudget).isDefined,
        "Ivf.driverTrain")

      val (masks, pairs) = TextQueries.maskPairsCached(s, dir)
      assert(TextQueries.driverClusterRelation(masks, TextQueries.DriverBudget).isDefined,
        "TextQueries.driverClusterRelation")
      // The graph the distributed cluster relation hands to Components.
      val (setRep, edges) = TextQueries.setGraph(masks, pairs)
      assert(Components.driverComponents(setRep.select(col("srep").as("id")), edges,
        Components.DriverBudget).isDefined, "Components.driverComponents")

      val toks = Tables.read(s, dir, "documents")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val sets = MinHash.distinctSets(toks, "doc_id", "toks").select("rep", "toks")
      assert(MinHash.localVocab(sets).isDefined, "MinHash.localVocab")
    }
  }
}
