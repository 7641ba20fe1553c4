package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.graph.DocGraph
import graft.query.AnswerService._

/** The /answer shim: directive planning, history merge order, routing
  * with the L2 fallback, rendering, truncation, and the no-result
  * phrasing — the whole api_server.py contract minus the HTTP frame.
  */
class AnswerServiceSpec extends AnyFunSuite {
  import AnswerServiceSpec._

  private lazy val spark = TestSpark.spark
  private lazy val g: DocGraph = DocGraph.synthetic(spark, TestSpark.TinySf)
  private lazy val bucketedG: DocGraph =
    DocGraph.bucketed(g, "answer_svc_spec", 4)

  test("directive planner: family + params, quoted values, catalog default") {
    assert(DirectivePlanner.plan("family=1 title=D42") ===
      (1, Map("title" -> "D42")))
    assert(DirectivePlanner.plan("family=11 author='Author_29' title=D42 title2=D43") ===
      (11, Map("author" -> "Author_29", "title" -> "D42", "title2" -> "D43")))
    assert(DirectivePlanner.plan("what can you do?") === (17, Map.empty))
  }

  test("a routed family answers with its rendered rows") {
    val resp = answer(g, AnswerRequest("family=1 title='D42'"))
    assert(resp.rows > 0)
    assert(resp.answer.contains("author"))
    // rendered rows are the same JSON renderRows produces for the family
    val direct = QueryText.renderRows(
      Router.route(g, 1, Map("title" -> "D42"))).collect()
    assert(resp.answer === direct.mkString("\n"))
  }

  test("history is merged query-first, reference order") {
    val rec = new QueryPlanner {
      @volatile var seen: String = ""
      def plan(q: String) = { seen = q; (17, Map.empty) }
    }
    answer(g, AnswerRequest("current question",
      history = Seq("earlier q", "earlier a")), rec)
    assert(rec.seen === "current question\nearlier q; earlier a")
  }

  test("an empty primary result falls back to full-text search") {
    // family 6 with a keyword that matches nothing as a graph entity but
    // appears in abstracts — the L2 path (same shape as q78/q118)
    val resp = answer(g, AnswerRequest("family=6 keyword=nosuchkeyword"),
      maxRows = 5)
    // either fallback rows or the explicit no-data phrasing — never an
    // empty string
    assert(resp.answer.nonEmpty)
    if (resp.rows == 0) assert(resp.answer === "No matching records found.")
  }

  test("truncation marks the cut and caps the row count") {
    val resp = answer(g, AnswerRequest("family=17"), maxRows = 3)
    assert(resp.rows === 3)
    assert(resp.answer.endsWith("... (truncated at 3 rows)"))
  }

  test("unknown families surface loudly (the HTTP 500 path)") {
    val e = intercept[IllegalArgumentException] {
      answer(g, AnswerRequest("family=99"))
    }
    assert(e.getMessage.contains("unknown family"))
  }

  test("the serving path over the bucketed binding: same answer, and the " +
      "routed 2-hop self-join plans with zero exchange under the join") {
    // end-to-end: AnswerService over Binding 3 must render the exact
    // answer the in-memory binding renders — layout, not semantics
    val req = AnswerRequest("family=13 author='Author_29'")
    val bucketedResp = answer(bucketedG, req)
    val memResp = answer(g, req)
    assert(bucketedResp.rows > 0)
    assert(bucketedResp === memResp)
    // and the routed plan reads co-located buckets: no shuffle exchange
    // under the 2-hop self-join (the q71 shape the family routes to)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = Router.route(bucketedG, 13, Map("author" -> "Author_29"))
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected a shuffled equi-join in the routed plan")
      assert(joins.forall(
        _.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty),
        "the routed self-join must read co-located buckets, not shuffle")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("every family answers identically over the bucketed and the " +
      "in-memory binding, fallback and truncation included") {
    // (request, maxRows): the cap sits below each template's sort, so a
    // truncated answer must still be the first rows of the sorted result
    val cases = EveryFamily.map(_ -> 100) ++ Seq(
      FallbackRequest -> 100,
      "family=6 keyword=vector" -> 2,
      "family=5 author=Author_29" -> 1)
    cases.foreach { case (q, maxRows) =>
      val want = answer(g, AnswerRequest(q), maxRows = maxRows)
      val got = answer(bucketedG, AnswerRequest(q), maxRows = maxRows)
      assert(got === want, s"answers differ for '$q' (maxRows $maxRows)")
      assert(got.rows > 0, s"'$q' answered no rows")
    }
    // the miss really takes the fallback: its rows are full-text hits
    assert(answer(bucketedG, AnswerRequest(FallbackRequest)).answer
      .contains("topics_csv"))
    assert(answer(bucketedG, AnswerRequest("family=6 keyword=vector"),
      maxRows = 2).answer.endsWith("... (truncated at 2 rows)"))
  }

  test("a family-1 answer over the bucketed binding runs exactly one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val req = AnswerRequest("family=1 title=D42")
    answer(bucketedG, req) // first use of the tables happens here, uncounted
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("answer_jobs", "family-1 answer")
      assert(answer(bucketedG, req).rows > 0)
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every job the answer started has been counted
      sc.setJobGroup("answer_jobs_sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("answer_jobs_sentinel") &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("answer_jobs_sentinel"), "listener bus stalled")
      val n = jobs.toArray.count(_ == "answer_jobs")
      assert(n === 1, s"family-1 answer ran $n jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the served binding's alias families read only catalog tables and " +
      "local relations, never the source directory") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val served = DocGraph.bucketedServed(spark, TestSpark.TinySf,
      "answer_svc_served", 4)
    Seq(6, 10).foreach { family =>
      val plan = Router.route(served, family, Map("keyword" -> "vector"))
        .queryExecution.analyzed
      plan.collectLeaves().foreach {
        case _: LocalRelation =>
        case r: LogicalRelation =>
          assert(r.catalogTable.isDefined,
            s"family $family reads a path, not a catalog table: $r")
          r.relation match {
            case h: HadoopFsRelation =>
              val roots = h.location.rootPaths.map(_.toString)
              assert(!roots.exists(_.contains(TestSpark.TinySf)),
                s"family $family reads the source directory: $roots")
            case _ =>
          }
        case other =>
          fail(s"family $family plans an unexpected leaf: ${other.nodeName}")
      }
    }
  }
}

object AnswerServiceSpec {

  /** One directive per family over the sf0.001 fixture, family 13 both
    * as the fixed 2-hop template and as `hops=` reachability.
    */
  val EveryFamily: Seq[String] = Seq(
    "family=1 title=D42",
    "family=2 title=D7",
    "family=3 title=D15",
    "family=4 title=D100",
    "family=5 author=Author_29",
    "family=6 keyword=vector",
    "family=7 org=Org_5",
    "family=8 title=D123",
    "family=9 title=D123",
    "family=10 keyword=vector",
    "family=11 author=Author_29 title=D42 title2=D43",
    "family=12 title=D7 keyword=table",
    "family=13 author=Author_29",
    "family=13 author=Author_29 hops=2",
    "family=14 keyword=small",
    "family=15 org=Org_3",
    "family=16 author=Author_29",
    "family=17")

  /** A family-6 keyword that names no keyword node, with search terms that
    * the fixture's abstracts contain: the primary is empty, the fallback
    * answers.
    */
  val FallbackRequest: String =
    "family=6 keyword=no_such_keyword_zz9 terms='merge;window'"
}
