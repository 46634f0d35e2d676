package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.byokg.{ByoKGQueryEngine, CypherLite, EntityLinker, Traversal}
import graft.index.{GraphTables, LexicalGraphBuilder}
import graft.llm.StubLLM
import graft.ops.{Dedup, TextAnalysis}
import graft.pipeline.LexicalGraphQueryEngine
import graft.queries.Tables

/** What a request produced, gathered and checked after the timed phase:
  * a digest of its rounded output, per-layer counts, and failed checks. */
final case class Result(digest: String, counts: Map[String, Double],
                        problems: Seq[String])

/** Everything a workload's set-up and requests may use. `dataDir` is where
  * set-up writes the generated tables the program reads. */
final case class Ctx(spark: SparkSession, seed: Long, dataDir: String,
                     tracer: Tracer)

/**
 * One benchmark workload. `setup` builds the state requests run against;
 * `request` makes the timed calls. Both return an untimed step that gathers
 * the output and checks it, run after the timed phase. Request `i` uses
 * input `i % inputs`, so a run that wraps around repeats an input and the
 * repeat must reproduce the digest.
 */
trait Workload {
  /** Requests run before timing starts, on inputs the timed phase skips. */
  def warmup: Int
  def setup(): () => Result
  def request(i: Int): () => Result
}

object Workloads {
  val all: Seq[String] = Seq("qa", "kgqa")

  def apply(name: String, c: Ctx): Workload = name match {
    case "qa" => new Qa(c)
    case "kgqa" => new Kgqa(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def md5(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(p => md.update((p + "\u0000").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def round6(d: Double): String = f"$d%.6f"

  /** Computes every column of every row of `df`: the noop sink consumes
    * full rows, where `count()` would let the optimizer prune columns. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The nine tables of a lexical graph. */
  def tables(g: GraphTables): Seq[DataFrame] = Seq(g.sources, g.chunks,
    g.topics, g.topicMentionedIn, g.statements, g.facts, g.factSupports,
    g.entities, g.entityRelations)
}

/** Pure output checks, each returning the failed conditions. */
object Checks {

  /** qa: a non-empty context of at most `maxSources` sources, built only
    * from statements that exist in the graph. */
  def qa(contextTokens: Long, rows: Seq[(String, String)], maxSources: Int,
         knownStatement: String => Boolean): Seq[String] = {
    val sources = rows.map(_._2).distinct
    Seq(
      (contextTokens <= 0) -> "empty context",
      rows.isEmpty -> "no source nodes",
      (sources.size > maxSources) -> s"${sources.size} sources > $maxSources",
      rows.exists(r => !knownStatement(r._1)) -> "statement not in graph"
    ).collect { case (true, msg) => msg }
  }

  /** kgqa: context triplets are graph edges, an unedited mention links to
    * its own node, the PPR top list holds the seed, and every Cypher row is
    * a placed edge followed by a contains edge. */
  def kgqa(m: Mention, linked: Seq[String], context: Seq[String],
           pprTop: Seq[String], cypherRows: Seq[(String, String, String)],
           isEdge: String => Boolean): Seq[String] = {
    val seed = linked.headOption.getOrElse("")
    Seq(
      (linked.size != 1) -> s"${linked.size} linked nodes",
      context.isEmpty -> "empty context",
      context.exists(l => !isEdge(l)) -> "context line is not a graph edge",
      (!m.edited && seed != m.intended) -> s"linked $seed, not ${m.intended}",
      !pprTop.contains(seed) -> "seed missing from PPR top list",
      cypherRows.exists { case (c, o, p) =>
        c != seed || !isEdge(s"$c [placed] $o") || !isEdge(s"$o [contains] $p")
      } -> "cypher row is not a placed/contains path from the seed"
    ).collect { case (true, msg) => msg }
  }

  /** build: kept documents have distinct texts, one source per kept
    * document, chunk and statement ids are unique, and the chunk count
    * matches a driver-side recount of the builder's token windows. */
  def build(keptTexts: Seq[String], sources: Long, chunks: Long,
             distinctChunkIds: Long, statements: Long,
             distinctStatementIds: Long): Seq[String] = {
    val expectChunks = keptTexts.map(t => windows(t).size.toLong).sum
    Seq(
      (keptTexts.distinct.size != keptTexts.size) -> "exact duplicate kept",
      (sources != keptTexts.size) -> s"$sources sources for ${keptTexts.size} docs",
      (chunks != distinctChunkIds) -> "duplicate chunk ids",
      (statements != distinctStatementIds) -> "duplicate statement ids",
      (chunks != expectChunks) -> s"$chunks chunks, recount $expectChunks"
    ).collect { case (true, msg) => msg }
  }

  /** The distinct token windows `LexicalGraphBuilder` chunks a text into. */
  def windows(text: String): Set[String] = {
    val toks = text.replaceAll("\\p{Punct}", " ").replaceAll("\\s+", " ")
      .trim.toLowerCase.split("\\s+")
    val stride = LexicalGraphBuilder.ChunkTokens - LexicalGraphBuilder.ChunkOverlap
    (0 to math.max(0, (toks.length - 1) / stride * stride) by stride)
      .map(p => toks.slice(p, p + LexicalGraphBuilder.ChunkTokens).mkString(" "))
      .filter(_.nonEmpty).toSet
  }
}

/** The interactive path: `LexicalGraphQueryEngine.answer` in text format
  * with the stub LLM. Set-up is the write path: the curation pre-pass
  * (quality filter, exact dedup, minhash-LSH near-dup components, keep
  * representatives) over the seeded corpus, then
  * `LexicalGraphQueryEngine.fromDocuments` with all nine tables written to
  * the noop sink. */
final class Qa(c: Ctx) extends Workload {
  val warmup = 5
  val CorpusDocs = 500
  private var engine: LexicalGraphQueryEngine = _
  private var questions: IndexedSeq[String] = _
  private lazy val knownStatements: Set[String] = engine.graph.statements
    .select("statement_id").collect().map(_.getString(0)).toSet

  def setup(): () => Result = {
    val t = c.tracer
    val docs = t.span("setup.data")(Inputs.corpus(c.seed, CorpusDocs))
    questions = Inputs.questions(c.seed, docs, 200)
    val kept = t.span("setup.graph_build") {
      val kept = t.span("ops.curation")(Qa.curate(c.spark.createDataFrame(docs)))
      engine = t.span("index.build") {
        val e = LexicalGraphQueryEngine.fromDocuments(c.spark, kept, "text",
          Seq("doc_id", "source"), llm = new StubLLM)
        Workloads.tables(e.graph).foreach(Workloads.materialize)
        e
      }
      kept
    }
    () => {
      val g = engine.graph
      val keptRows = kept.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      def n(df: DataFrame) = df.count()
      def distinct(df: DataFrame, id: String) = df.select(id).distinct().count()
      val counts = Map(
        "ops.docs_in" -> docs.size.toDouble,
        "ops.docs_kept" -> keptRows.size.toDouble,
        "index.chunks" -> n(g.chunks).toDouble,
        "index.statements" -> n(g.statements).toDouble,
        "index.facts" -> n(g.facts).toDouble,
        "index.entities" -> n(g.entities).toDouble)
      val problems = Checks.build(keptRows.map(_._2), n(g.sources),
        counts("index.chunks").toLong, distinct(g.chunks, "chunk_id"),
        counts("index.statements").toLong, distinct(g.statements, "statement_id"))
      Result(Workloads.md5(keptRows.map(_._1.toString) ++
        Seq("index.chunks", "index.statements", "index.facts", "index.entities")
          .map(k => counts(k).toLong.toString)), counts, problems)
    }
  }

  def request(i: Int): () => Result = {
    val q = questions(i % questions.size)
    val r = c.tracer.span("pipeline.answer")(engine.answer(q, "text"))
    () => {
      val rows = r.sourceNodes.select("statement_id", "source_id", "score")
        .collect().map(x => (x.getString(0), x.getString(1), x.getDouble(2)))
        .sortBy(x => (x._2, x._1)).toSeq
      val md = r.metadata
      val counts = Map(
        "pipeline.retrieve_ms" -> md("retrieve_ms").toDouble,
        "pipeline.postprocessing_ms" -> md("postprocessing_ms").toDouble,
        "pipeline.answer_ms" -> md("answer_ms").toDouble,
        "pipeline.context_tokens" -> md("context_tokens").toDouble,
        "retrieve.results_out" -> md("num_source_nodes").toDouble,
        "retrieve.sources_out" -> rows.map(_._2).distinct.size.toDouble)
      val problems = Checks.qa(md("context_tokens").toLong,
        rows.map(x => (x._1, x._2)), graft.model.Defaults.MaxSearchResults,
        knownStatements)
      Result(Workloads.md5(q +: r.response +: rows.map(x =>
        s"${x._1}|${x._2}|${Workloads.round6(x._3)}")), counts, problems)
    }
  }
}

object Qa {
  /** The curation pre-pass of the repo's q_curation_pipeline query, with the
    * surviving documents checkpointed for the build that follows. */
  def curate(docs: DataFrame): DataFrame = {
    val filtered = TextAnalysis.qualityFilter(docs, "text",
      minScore = 0.3, minTokens = 10, maxTokens = 10000)
    val canon = Dedup.exact(filtered, "text", "doc_id")
    val pairs = Dedup.minhashLsh(canon, "text", "doc_id",
      numHashes = 16, bands = 8, shingleSize = 3)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    canon.join(losers, Seq("doc_id"), "left_anti").localCheckpoint(true)
  }
}

/** The bring-your-own-KG path: link a customer mention, retrieve its
  * context, rank the graph around it with personalized PageRank, and run
  * one anchored two-hop Cypher MATCH. */
final class Kgqa(c: Ctx) extends Workload {
  val warmup = 5
  val Customers = 1000
  private var kg: Kg = _
  private var mentions: IndexedSeq[Mention] = _
  private var edges: DataFrame = _
  private var nodes: DataFrame = _
  private var eDeg: DataFrame = _
  private var eByDst: DataFrame = _
  private var engine: ByoKGQueryEngine = _

  def setup(): () => Result = {
    val s = c.spark
    import s.implicits._
    kg = c.tracer.span("setup.data") {
      val kg = Inputs.kg(c.seed, Customers)
      kg.orders.toDF("o_orderkey", "o_custkey")
        .write.parquet(s"${c.dataDir}/orders.parquet")
      kg.lineitems.toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.parquet(s"${c.dataDir}/lineitem.parquet")
      kg
    }
    mentions = Inputs.mentions(c.seed, kg, 200)
    edges = c.tracer.span("setup.graph_build") {
      val e = Tables.edges(s, c.dataDir)
      e.count()
      e
    }
    c.tracer.span("setup.kg_layout") {
      val (n, d) = Tables.pageRankAdjacency(s, c.dataDir)
      eByDst = Tables.pageRankAdjacencyByDst(s, c.dataDir)
      Seq(n, d, eByDst).foreach(_.count())
      nodes = n; eDeg = d
    }
    engine = new ByoKGQueryEngine(edges, new StubLLM)
    () => {
      val n = edges.count()
      val problems = if (n == kg.edgeLines.size) Nil
        else Seq(s"$n edges, recount ${kg.edgeLines.size}")
      Result(Workloads.md5(Seq(n.toString)), Map.empty, problems)
    }
  }

  def request(i: Int): () => Result = {
    val s = c.spark
    import s.implicits._
    val t = c.tracer
    val m = mentions(i % mentions.size)
    val linked = t.span("byokg.link") {
      EntityLinker.fuzzyLink(nodes, "node", Seq(m.text), k = 1)
        .select("node").collect().map(_.getString(0)).toSeq
    }
    val seed = linked.headOption.getOrElse(m.intended)
    val context = t.span("byokg.context") {
      engine.retrieveContext(s"which parts did ${m.text} order", Seq(m.text))
        .collect()
    }
    val ppr = t.span("byokg.ppr") {
      Traversal.personalizedPageRankIterate(nodes, eDeg, Seq(seed).toDF("node"),
          iters = 3, deterministic = true, eByDst = Some(eByDst))
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(desc("rank"), col("node")).limit(20).collect()
    }
    val cypher = t.span("byokg.cypher") {
      CypherLite.run(edges, "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
          s"WHERE c.id = '$seed' RETURN c.id, o.id, p.id")
        .fold(err => sys.error(err), identity).collect()
    }
    () => {
      val lines = context.sortBy(_.getInt(1)).map(_.getString(0)).toSeq
      val top = ppr.map(r => (r.getString(0), r.getDouble(1))).toSeq
      val paths = cypher.map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
      val problems = Checks.kgqa(m, linked, lines, top.map(_._1), paths,
        kg.edgeLines)
      val counts = Map(
        "byokg.context_lines" -> lines.size.toDouble,
        "byokg.cypher_rows" -> paths.size.toDouble,
        "byokg.link_hit_ratio" -> (if (seed == m.intended) 1.0 else 0.0))
      Result(Workloads.md5(Seq(m.text, seed) ++ lines ++
        top.map(x => s"${x._1}|${Workloads.round6(x._2)}") ++
        paths.map(_.productIterator.mkString("|"))), counts, problems)
    }
  }
}
