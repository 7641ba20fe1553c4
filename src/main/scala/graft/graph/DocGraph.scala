package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.Taxonomy

/** The frame pair every Q.txt template family runs over (SURVEY.md §2.3)
  * — the engine-facing parameterization of the 17-family library, so the
  * SAME template code serves both the synthetic fixture-derived graph and
  * the REAL tagged-text ingest (`cleaner.py:198` → `csv_extractor.py:
  * 153-241` → `Q.txt:1-64` end-to-end).
  *
  * Contract:
  *  - `docs`: one row per unique document; at least `title` (unique),
  *    `year` (long, nullable), `label`, `journal`, `abstract`, `addr`.
  *    Extra columns are allowed and ignored by the templates.
  *  - `edges`: (src, dst, rel_type) — AUTHORED / TERTIARY_AUTHORED
  *    (author→title), HAS_KEYWORD / PUBLISHED_BY / HAS_TOPIC /
  *    AUTHOR_ADDRESS (title→entity), per-type deduplicated (A6).
  *  - `kwMapping`: (original, representative) alias mapping (J1) driving
  *    the family-6/10 alias expansion (prompt rule 1).
  *
  * The derived views below are narrow per-type filters of the edge union
  * — constant folding prunes the non-matching union branches, so a
  * single-relation query reads only its own branch. At 100 TB the edge
  * frame would be bucketed by `src` (see BucketedStore) so the multi-hop
  * self-joins are co-located; the views preserve that partitioning.
  */
final case class DocGraph(docs: DataFrame, edges: DataFrame,
                          kwMapping: DataFrame) {

  /** (author, title) pairs for AUTHORED. */
  def authored: DataFrame =
    edges.filter(col("rel_type") === "AUTHORED")
      .select(col("src").as("author"), col("dst").as("title"))

  /** (author, title, rel) for both author relations (family 11 checks). */
  def authoredAll: DataFrame =
    edges.filter(col("rel_type").isin("AUTHORED", "TERTIARY_AUTHORED"))
      .select(col("src").as("author"), col("dst").as("title"),
        col("rel_type").as("rel"))

  /** (title, kw) pairs for HAS_KEYWORD. */
  def hasKeyword: DataFrame =
    edges.filter(col("rel_type") === "HAS_KEYWORD")
      .select(col("src").as("title"), col("dst").as("kw"))

  /** (title, topic) pairs for HAS_TOPIC. */
  def hasTopic: DataFrame =
    edges.filter(col("rel_type") === "HAS_TOPIC")
      .select(col("src").as("title"), col("dst").as("topic"))

  /** (title, org) pairs for PUBLISHED_BY. */
  def published: DataFrame =
    edges.filter(col("rel_type") === "PUBLISHED_BY")
      .select(col("src").as("title"), col("dst").as("org"))

  /** J5 alias expansion of a seed keyword: the seed plus its ALIAS_OF
    * target (`neo4j_query_executor.py:269-278`). Rows may repeat (the
    * seed is usually its own representative): callers take it as the
    * right side of a semi-join, which a duplicate cannot change, so no
    * distinct shuffle is paid here.
    */
  def aliasExpand(seed: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    kwMapping.filter(col("original") === seed)
      .select(col("representative").as("kw"))
      .union(Seq(seed).toDF("kw"))
  }
}

object DocGraph {

  /** Binding 1: the deterministic fixture-derived graph (every q6x/q7x/q8x
    * oracle row rides this).
    */
  def synthetic(s: SparkSession, d: String): DocGraph = {
    val topicEdges = BibGraph.hasTopic(s, d)
      .select(col("title").as("src"), col("topic").as("dst"),
        lit("HAS_TOPIC").as("rel_type"))
    DocGraph(
      docs = BibGraph.docs(s, d),
      edges = BibGraph.edges(s, d) unionAll topicEdges,
      kwMapping = BibGraph.keywordMapping(s, d))
  }

  /** Binding 2: the REAL ingest path — a [[graft.ingest.TaggedText.ingest]]
    * frame (tagged export → parse → format → first-wins dedup) becomes a
    * queryable graph: `NODE_LINK_CONFIG` edges over the ingest schema,
    * alias mapping derived from the extracted keywords themselves, and a
    * HAS_TOPIC stub classifier (md5-bucket topic id + broadcast taxonomy
    * join — the deterministic stand-in for `TopicClassfication.py`'s LLM,
    * SURVEY §7.5 risk 5).
    */
  def ofIngested(ingested: DataFrame): DocGraph = {
    val s = ingested.sparkSession
    import s.implicits._
    val docsView = ingested.select(
      $"title",
      $"year".cast("long").as("year"),
      $"label", $"journal", $"abstract",
      array_join($"author_address", "; ").as("addr"))
    // deterministic topic id from the title's md5 prefix — 1..22, always
    // valid, identical arithmetic on the DuckDB oracle side
    val topicId =
      (conv(substring(md5($"title"), 1, 6), 16, 10).cast("long") % 22 + 1)
        .cast("int")
    val topicEdges = ingested
      .join(broadcast(Taxonomy.df(s).select($"id", $"topic_name")),
        $"id" === topicId)
      .select($"title".as("src"),
        trim(regexp_replace($"topic_name", "\\s*\\(.*?\\)", "")).as("dst"),
        lit("HAS_TOPIC").as("rel_type"))
    DocGraph(
      docs = docsView,
      edges = BibGraph.taggedEdges(ingested) unionAll topicEdges,
      kwMapping = BibGraph.keywordMappingOf(
        ingested.select(explode($"keywords").as("original"))))
  }

  /** Every relation type with the side its 2-hop self-joins key on: the
    * author relations join documents via `dst` (author→title), the
    * title→entity relations via `src` (title→kw/topic/org/addr).
    */
  private val RelJoinKeys: Seq[(String, String)] = Seq(
    "AUTHORED" -> "dst", "TERTIARY_AUTHORED" -> "dst",
    "HAS_KEYWORD" -> "src", "HAS_TOPIC" -> "src",
    "PUBLISHED_BY" -> "src", "AUTHOR_ADDRESS" -> "src")

  /** Binding 3 (opt-in): the WRITE-TIME bucketed layout of any DocGraph —
    * PERF.md's "bucket the edge frames at write time and the 2/3-hop
    * self-joins co-locate", made executable. Each relation becomes its own
    * narrow (src, dst) catalog table bucketed+sorted on the key its
    * 2-hop self-joins use ([[RelJoinKeys]]); docs are bucketed on `title`.
    * Reading back re-attaches `rel_type` as a LITERAL, so a per-relation
    * view's filter constant-folds every other union branch away and the
    * remaining single bucketed scan's HashPartitioning survives the
    * (alias-aware) projection into the join — the 2-hop self-join plans
    * with ZERO shuffle exchange under the join (asserted in
    * `BucketedDocGraphSpec`). The alias mapping is stored too, as one more
    * table bucketed on `original` (the key family 6/10's seed filter
    * tests), so the binding is self-contained: a served request reads
    * only catalog tables, never re-deriving the mapping from the source
    * data (an explode, distinct and window over every document — for an
    * ingested graph, a re-parse of the whole tagged export).
    *
    * At 100 TB this is the difference between every co-author /
    * co-occurrence / collaborator query paying a full edge shuffle and
    * paying none: the shuffle happens once, at ingest time, and every
    * subsequent query in the 17-family library reads co-located buckets.
    */
  def bucketed(g: DocGraph, prefix: String = "graft_g",
               buckets: Int = 16): DocGraph = {
    val s = g.docs.sparkSession
    // every edge must land in some bucketed table: an edge type missing
    // from RelJoinKeys would silently vanish from the bucketed binding,
    // so fail loudly instead (same contract as epsPairsOf's size guard).
    val known = RelJoinKeys.map(_._1).toSet
    val unknown = g.edges.select("rel_type").distinct()
      .collect().map(_.getString(0)).filterNot(known)
    require(unknown.isEmpty,
      s"DocGraph.bucketed: edge rel_type(s) ${unknown.mkString(", ")} have " +
        s"no bucket key in RelJoinKeys — add them or they would be " +
        s"dropped from the bucketed binding")
    // The eight table writes are independent of each other — submit them
    // CONCURRENTLY from a bounded driver pool (guide §2.6 "overlap
    // independent jobs", the GraphDump discipline): sequentially each
    // small write left the executors ~idle between tiny stages, and the
    // ingest wall time was the SUM of seven mostly-single-task jobs
    // instead of the longest one. Await every writer, then surface the
    // first failure once nothing is in flight (fail-fast would unpersist
    // frames under surviving writers).
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val writes = RelJoinKeys.map { case (rel, key) =>
          Future {
            BucketedStore.writeBucketed(
              g.edges.filter(col("rel_type") === rel).select("src", "dst"),
              s"${prefix}_${rel.toLowerCase}", key, buckets)
          }
        } :+ Future {
          BucketedStore.writeBucketed(g.docs, s"${prefix}_docs", "title",
            buckets)
        } :+ Future {
          BucketedStore.writeBucketed(g.kwMapping, s"${prefix}_kw_mapping",
            "original", buckets)
        }
        val settled = Await.result(
          Future.sequence(writes.map(_.transform(scala.util.Success(_)))),
          Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }
          .foreach(throw _)
      } finally pool.shutdown()
    }
    readBucketedBinding(s, prefix)
  }

  /** Reassemble a [[bucketed]] binding from its catalog tables WITHOUT
    * writing anything — the serve-side read path on its own. Every frame
    * of the result, the alias mapping included, is a catalog table read.
    */
  def readBucketedBinding(s: SparkSession, prefix: String): DocGraph = {
    val edges = RelJoinKeys.map { case (rel, _) =>
      BucketedStore.table(s, s"${prefix}_${rel.toLowerCase}")
        .select(col("src"), col("dst"), lit(rel).as("rel_type"))
    }.reduce(_ unionAll _)
    DocGraph(BucketedStore.table(s, s"${prefix}_docs"), edges,
      BucketedStore.table(s, s"${prefix}_kw_mapping"))
  }

  /** Tracks which source dir each served prefix's tables were built from
    * in THIS JVM. The session catalog is in-memory, so a fresh process
    * always rebuilds; within a process this guard both skips redundant
    * rebuilds (build-once/serve-many) and — critically — forces a rebuild
    * when the same prefix is requested for a DIFFERENT source dir (tests
    * and multi-SF runs would otherwise serve stale tables).
    */
  private val servedFrom =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once/serve-many form of [[bucketed]] over the synthetic
    * binding: the first call in a JVM (per prefix+source) pays the
    * ingest writes; every later call reads the existing bucketed tables
    * and plans the serve path alone. This is the honest serving-cost
    * attribution the all-in-one form (q129) cannot give: there, every
    * benchmark run re-buys the ingest shuffle that production pays once
    * per corpus build. Correctness is unaffected — a fresh JVM (every
    * Verify run) rebuilds from the requested dir.
    */
  def bucketedServed(s: SparkSession, d: String, prefix: String,
                     buckets: Int = 16): DocGraph = {
    // Record the source dir only AFTER the build succeeds: a put-before-
    // build would let a partial build (exception after some per-rel table
    // writes) or a concurrent caller arriving mid-build observe prev == d
    // and silently serve stale/partial tables — exactly the wrong-results
    // mode this guard exists to prevent. compute() holds the per-prefix
    // map lock across the build, so a concurrent second caller blocks
    // until the tables exist, and a build that throws leaves the mapping
    // UNCHANGED (ConcurrentHashMap.compute's contract), so the next
    // caller rebuilds from scratch instead of serving the partial write.
    if (servedFrom.get(prefix) != d)
      servedFrom.compute(prefix, (_, prev) => {
        if (prev != d) bucketed(synthetic(s, d), prefix, buckets)
        d
      })
    readBucketedBinding(s, prefix)
  }
}
