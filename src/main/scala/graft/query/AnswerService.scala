package graft.query

import graft.graph.DocGraph

/** L5 — the `/answer` endpoint's engine-side contract (`api_server.py:
  * 70-102`), as a thin shim over [[Router]] + [[QueryText.renderRows]].
  * The HTTP frame itself (FastAPI, sessions held by the caller) stays out
  * of engine scope per SURVEY §2.9; what IS engine scope — and what this
  * object pins — is the request/response shape and the control flow:
  * history merged into the question string (`api_server.py:95`:
  * `query + "\n" + str(history)`), NL planning behind a pluggable trait
  * (the reference's LLM Cypher generation, `neo4j_query_executor.py:
  * 240-335`), the routed template with the L2 empty→full-text fallback,
  * and rows rendered to the answer payload. A caller wires this to any
  * HTTP server in a dozen lines without touching engine code.
  */
object AnswerService {

  /** `QueryInput` (`api_server.py:23-28`). */
  final case class AnswerRequest(query: String, history: Seq[String] = Nil,
                                 sessionId: String = "")

  /** `AnswerOutput` (`api_server.py:30-33`). */
  final case class AnswerResponse(answer: String, rows: Long)

  /** The NL→template step — the reference's LLM turns the question into
    * a closed-schema query; implementations here turn the merged
    * question+history text into (family, params). Pluggable exactly like
    * the classifier/corrector/encoder stubs (SURVEY §7.5 risk 5).
    */
  trait QueryPlanner extends Serializable {
    def plan(queryWithHistory: String): (Int, Map[String, String])
  }

  /** Deterministic hermetic planner: a closed directive grammar
    * `family=N key=value ...` (values may be 'single-quoted' to carry
    * spaces). Anything unparseable routes to family 17 — the capability
    * catalog, the reference's "what can you ask" answer.
    */
  object DirectivePlanner extends QueryPlanner {
    private val Tok = """(\w+)=(?:'([^']*)'|(\S+))""".r
    def plan(q: String): (Int, Map[String, String]) = {
      val kvs = Tok.findAllMatchIn(q).map { m =>
        m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))
      }.toMap
      kvs.get("family").flatMap(f => scala.util.Try(f.toInt).toOption) match {
        case Some(f) => (f, kvs - "family")
        case None => (17, Map.empty)
      }
    }
  }

  /** Serve one request over a [[DocGraph]]: merge history the way the
    * reference does, plan, route WITH the L2 fallback (search terms
    * harvested from the planned params — the reference harvests them from
    * the same LLM output), render at most `maxRows` JSON rows into the
    * answer text. Each plan the request reads (the primary, and the
    * fallback only when the primary is empty) is evaluated by exactly one
    * collect capped at `maxRows + 1` rows. Empty result → the reference's
    * no-data phrasing stays caller-visible rather than an empty string.
    *
    * CONCURRENCY CONTRACT — single serving thread, stated here at the
    * entry point (not only in the EntityResolution scaladoc): the
    * `finally` below drains ONE GLOBAL serve-cache queue, and the
    * lifecycle queries (q160–q163) drop/replace their shared working
    * catalog tables per call. Under concurrent requests the cache drain
    * is merely recompute-only (benign), but two concurrent LIFECYCLE
    * replays on the same table prefix would drop working tables out
    * from under each other and return a WRONG mapping, not an error. A
    * caller that serves concurrently must serialize requests that reach
    * the lifecycle families (one serving thread, or a per-prefix lock
    * around `answer`); the reference's FastAPI frame runs one asyncio
    * event loop (`api_server.py:70-102`), which satisfies this by
    * construction.
    */
  def answer(g: DocGraph, req: AnswerRequest,
             planner: QueryPlanner = DirectivePlanner,
             maxRows: Int = 100): AnswerResponse = {
    val merged =
      if (req.history.isEmpty) req.query
      else req.query + "\n" + req.history.mkString("; ")
    val (family, params) = planner.plan(merged)
    val terms = params.get("terms")
      .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(params.valuesIterator.toSeq.sorted)
    // the cap sits below the rendering and so below the template's sort;
    // the one row past maxRows detects truncation
    val (_, rendered) =
      try Router.firstNonEmpty(g, family, params, terms)(df =>
        QueryText.renderRows(df.limit(maxRows + 1)).collect())
      // reap request-scoped serve caches once the result is materialized
      // (EntityResolution.releaseServeCaches's contract): the request
      // loop is the one place that knows materialization happened, so a
      // long-lived serve JVM stops accumulating MEMORY_AND_DISK blocks
      // per request (round-12 verdict item 4; ServeCacheReleaseSpec
      // asserts the post-release block store is empty).
      finally graft.resolve.EntityResolution.releaseServeCaches()
    val shown = rendered.take(maxRows)
    val suffix =
      if (rendered.length > maxRows) s"\n... (truncated at $maxRows rows)"
      else ""
    if (shown.isEmpty) AnswerResponse("No matching records found.", 0L)
    else AnswerResponse(shown.mkString("\n") + suffix, shown.length.toLong)
  }
}
