package graft.obs

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.DirtPipeline
import graft.queries.PlantedBiarc
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{ListenerAccess, RegisteredListeners}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The cost ledger: deterministic counters repeat, a record read right
  * after its action is complete, nested regions own their jobs, the
  * listeners never outlive a region, and [[graft.Profile]] resolves
  * every kind of name the tools it replaced accepted.
  */
class LedgerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ledger-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def ledgerListeners: Seq[AnyRef] =
    RegisteredListeners(spark).filter(_.getClass.getName.startsWith("graft.obs."))

  // The body is the DIRT aggregation lineage (triples, margins, global
  // N, MI). The similarity phase is not deterministic in jobs: its two
  // broadcast builds over the persisted member slice of sumMi race, and
  // in about a quarter of runs both compute it (one more job, one more
  // shuffle of the sumMi rows), with the same final plans.
  test("two regions over the same body give identical counters and exchanges") {
    val groups = 8
    def mi(): Unit = {
      val tr = DirtPipeline.triples(DirtPipeline.extractInstances(
        DirtPipeline.parseCorpus(PlantedBiarc.scaledLines(spark, groups))))
      DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
        DirtPipeline.psMargins(tr), DirtPipeline.globalN(tr))
        .write.format("noop").mode("overwrite").save()
    }
    val ledger = new Ledger(spark)
    def shape(r: Region) = (r.jobs, r.stages, r.shuffleRecordsWritten,
      r.exchanges.map(_.map(e => (e.output, e.recordsWritten))))
    val a = ledger.region("mi")(mi())
    val b = ledger.region("mi")(mi())
    assert(a.jobs > 0 && a.shuffleRecordsWritten > 0)
    assert(a.exchanges.flatten.nonEmpty, "no exchange read from the final plan")
    assert(shape(a) == shape(b))
  }

  test("a record read right after the action holds every task of its job") {
    val sc = spark.sparkContext
    // a slow listener on the same bus queue holds back the ledger's
    // task-end events: only draining the bus makes the count whole
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(150)
    }
    sc.addSparkListener(slow)
    try {
      val r = new Ledger(spark).region("seven")(sc.parallelize(1 to 70, 7).count())
      assert(r.jobs == 1 && r.stages == 1)
      assert(r.tasks == 7)
    } finally sc.removeSparkListener(slow)
  }

  test("nested regions attribute jobs to the inner label") {
    val sc = spark.sparkContext
    val ledger = new Ledger(spark)
    val outer = ledger.region("outer") {
      sc.parallelize(1 to 10, 2).count()
      ledger.region("inner") {
        sc.parallelize(1 to 10, 3).count()
        sc.parallelize(1 to 10, 3).count()
        spark.range(5).collect()
      }
      ()
    }
    assert(outer.jobs == 1 && outer.tasks == 2 && outer.actions.isEmpty)
    val Seq(inner) = outer.nested
    assert(inner.label == "inner")
    assert(inner.jobs >= 3 && inner.actions.size == 1)
    assert(outer.allActions.size == 1)
  }

  test("no ledger listener survives a region whose body throws") {
    val sc = spark.sparkContext
    val ledger = new Ledger(spark)
    var inside = 0
    intercept[IllegalStateException] {
      ledger.region("boom") {
        sc.parallelize(1 to 4, 2).count()
        inside = ledgerListeners.size
        throw new IllegalStateException("injected")
      }
    }
    assert(inside == 2, "the region did not register both listeners")
    assert(ledgerListeners.isEmpty, ledgerListeners.mkString(", "))
    assert(sc.getLocalProperty(ListenerAccess.JobGroupKey) == null,
      "the job group was not restored")
  }

  test("Profile resolves every kind of name and writes one plan per action") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    val env = Map("SPARK_GRAFT_SF_DIR" -> sf, "SPARK_GRAFT_REPS" -> "1",
      "SPARK_GRAFT_DIRT_ROWS" -> "1000", "SPARK_GRAFT_JACCARD_DOCS" -> "200",
      "SPARK_GRAFT_PLANTED_GROUPS" -> "8")
    val names = Seq("cx_table_cdf", "q01_agg_sum_groupby",
      "dedup_jaccard_adversarial_200", "star_round", "minhash_pairs",
      "dirt_mi", "dirt_similarity_unpersisted", "dirt_phases")
    val plans: Path = Files.createTempDirectory("ledger-spec-plans")
    val out = new java.io.ByteArrayOutputStream
    val ok = Console.withOut(out) {
      graft.Profile.run(spark, env, names :+ "no_such_entry",
        Some(plans.toString))
    }
    assert(!ok, "an unknown name must fail the run")
    val mapper = new ObjectMapper
    val lines = out.toString("UTF-8").linesIterator
      .filter(_.startsWith("{\"metric\":\"profile\"")).map(mapper.readTree).toSeq
    val byName = lines.map(l => l.get("name").asText -> l).toMap
    assert(byName.keySet == (names :+ "no_such_entry").toSet)
    assert(!byName("no_such_entry").get("error").isNull)
    def actions(r: JsonNode): Int = r.get("actions").size +
      r.get("regions").elements.asScala.map(actions).sum
    names.foreach { n =>
      val l = byName(n)
      assert(l.get("error").isNull, s"$n: ${l.get("error")}")
      assert(l.get("seconds").size == 1 && l.get("regions").size == 1, n)
      val region = l.get("regions").get(0)
      val files = (0 until actions(region)).map(i => plans.resolve(s"${n}_$i.txt"))
      assert(files.nonEmpty && files.forall(f => Files.size(f) > 0), n)
      assert(!Files.exists(plans.resolve(s"${n}_${files.size}.txt")), n)
    }
    val phases = byName("dirt_phases").get("regions").get(0).get("regions")
    assert(phases.elements.asScala.map(_.get("label").asText).toSeq ==
      Seq("parse+extract", "triples", "mi", "similarity"))
    assert(phases.get(3).get("actions").elements.asScala.exists(_.size > 0),
      "the similarity phase read no exchange")
  }
}
