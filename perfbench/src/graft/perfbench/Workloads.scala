package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Exact, Sketches, TextExprs, VectorExprs}
import graft.operators.{Chunker, GlobalPrefix, IvfIndex, Snapshots}
import graft.queries.{Core, Dedup, Events, Graph, Pipeline, Q, Retrieval, Stats, Text}
import graft.sources.Tables

/** Doc-chat traffic (the reference's bones.py:74-144 loop). Set-up
  * chunks the corpus, embeds the chunks and builds the IVF vector
  * store; each timed request answers one question: lexical top-k over
  * the chunks, dense top-k from the store, both joined to their text
  * and collected as the stuffed context. */
final class RagQa(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val root = s"${c.work}/rag"
  private val chunkDir = s"$root/chunks" // holds documents.parquet, read via Tables
  private val index = s"$root/ivf"
  private val QueryIdBase = 1000000000L
  private val TopK = 3
  private val NProbe = 4
  private val Clusters = 16
  private val WarmupQuestions = 4
  private lazy val questions: Array[(Long, String, Seq[String])] =
    Tables.load(c.spark, c.data, "questions").orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))

  def resetState(): Unit = { Fs.rm(new File(root)); Fs.rmEngineState(chunkDir) }

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    Tables.load(c.spark, c.data, "rag_docs").as[(Long, String)]
      .flatMap { case (id, text) =>
        Chunker.split(text, 1000, 150).zipWithIndex.map { case (t, i) => (id * 1000 + i, t) }
      }.toDF("doc_id", "text")
      .write.parquet(s"$chunkDir/documents.parquet")
    val t1 = System.nanoTime()
    val chunks = Tables.documents(c.spark, chunkDir)
    Retrieval.embeddedDocs(c.spark, chunkDir, chunks)
      .select(col("doc_id").as("vec_id"), col("vec").as("v"),
        VectorExprs.norm2(col("vec")).as("n2"))
      .write.parquet(s"$root/emb")
    val t2 = System.nanoTime()
    IvfIndex.build(c.spark, c.spark.read.parquet(s"$root/emb"), index, k = Clusters)
    val t3 = System.nanoTime()
    Map("chunk_s" -> (t1 - t0) / 1e9, "embed_s" -> (t2 - t1) / 1e9,
      "ivf_build_s" -> (t3 - t2) / 1e9)
  }

  def warmup(): Unit = (1 to WarmupQuestions).foreach(k => next(questions.length - k).run())

  /** The request's lexical hits, query vector and dense hits. */
  private def frames(q: (Long, String, Seq[String])): (DataFrame, DataFrame, DataFrame) = {
    val qid = QueryIdBase + q._1
    val qt = q._3.map(t => (qid, t)).toDF("query_id", "t")
    val lexical = Retrieval.bm25RankedFor(c.spark, chunkDir, qt)
      .filter(col("rn") <= TopK)
      .select(lit("lex").as("src"), col("rn").as("rank"), col("doc_id").as("chunk_id"),
        round(col("score"), 4).as("score"))
    val qDoc = Seq((qid, q._2)).toDF("doc_id", "text")
    val qVec = Retrieval.embeddedDocs(c.spark, chunkDir, qDoc)
      .select(col("doc_id").as("query_id"), col("vec").as("vq"),
        VectorExprs.norm2(col("vec")).as("nq"))
    val dense = IvfIndex.query(c.spark, index, qVec, TopK, NProbe)
      .select(lit("dense").as("src"), col("rank"), col("neighbor_id").as("chunk_id"),
        col("cos_sim").as("score"))
    (lexical, qVec, dense)
  }

  def next(i: Int): Op = {
    val q = questions(i % questions.length)
    Op("question", () => {
      val (lexical, _, dense) = frames(q)
      val chunks = Tables.documents(c.spark, chunkDir)
        .select(col("doc_id").as("chunk_id"), col("text"))
      val hits = lexical.unionByName(dense).join(chunks, "chunk_id")
        .collect().sortBy(r => (r.getString(r.fieldIndex("src")), r.getInt(r.fieldIndex("rank"))))
      val context = hits.map(_.getAs[String]("text")).distinct.mkString(" | ")
      Map("qid" -> q._1, "context_chars" -> context.length,
        "hits" -> hits.map(r => Seq(r.getAs[String]("src"), r.getAs[Int]("rank"),
          r.getAs[Long]("chunk_id"), r.getAs[Double]("score"),
          r.getAs[String]("text").hashCode)))
    }, isolated = {
      lazy val (lexical, qVec, dense) = frames(q)
      def chunks = Tables.documents(c.spark, chunkDir)
      Seq(
        ("sources", "scan", () => c.noop(chunks)),
        ("functions", "tokens", () => c.noop(chunks.select(explode(TextExprs.tokens(col("text")))))),
        ("queries", "embed_q", () => c.noop(qVec)),
        ("queries", "bm25", () => c.noop(lexical)),
        ("operators", "ivf_query", () => c.noop(dense)),
        ("queries", "context", () => c.noop(lexical.unionByName(dense)
          .join(chunks.withColumnRenamed("doc_id", "chunk_id"), "chunk_id"))))
    })
  }

  override def detail(): Map[String, Any] = {
    val chunks = Tables.documents(c.spark, chunkDir)
    val toks = chunks.select(sum(size(TextExprs.tokens(col("text"))))).head().getLong(0)
    Map("chunks" -> chunks.count(), "corpus_tokens" -> toks, "ivf_k" -> Clusters,
      "nprobe" -> NProbe, "top_k" -> TopK)
  }
}

/** Batch users of the LLM-data pipeline: each repetition runs job 1,
  * `pipeline_e2e` (clean, near-dup, split, wordpiece, pack), and job 2,
  * fuzzy dedup (MinHash LSH pairs feeding min-label clustering), each
  * writing its output. */
final class CorpusPipeline(c: Ctx) extends Workload {
  def resetState(): Unit = Fs.rmEngineState(c.data)

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    Tables.documents(c.spark, c.data).count() // splittable mirror, if the table needs one
    val t1 = System.nanoTime()
    Pipeline.nbModelOf(c.spark, c.data) // the maintained quality model (buildOnce)
    val t2 = System.nanoTime()
    Map("mirror_s" -> (t1 - t0) / 1e9, "nb_fit_s" -> (t2 - t1) / 1e9)
  }

  def warmup(): Unit = {
    c.writeOracles(Seq("pipeline_e2e", "dedup_clusters"))
    job1("warm")
    job2("warm")
  }

  private def job1(tag: String): Unit =
    Pipeline.pipelineE2e.run(c.spark, c.data).write.parquet(c.out(s"pipeline_e2e_$tag"))

  private def job2(tag: String): Unit = {
    val pairs = Dedup.minhashLsh.run(c.spark, c.data)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    Dedup.minLabelClusters(pairs).write.parquet(c.out(s"dedup_clusters_$tag"))
  }

  def next(i: Int): Op = {
    val tag = s"r$i"
    Op("repetition", () => {
      val t0 = System.nanoTime()
      job1(tag)
      val t1 = System.nanoTime()
      Harness.hygiene(c.spark)
      val t2 = System.nanoTime()
      job2(tag)
      val t3 = System.nanoTime()
      Map("pipeline_e2e" -> c.out(s"pipeline_e2e_$tag"),
        "dedup_clusters" -> c.out(s"dedup_clusters_$tag"),
        "job1_s" -> (t1 - t0) / 1e9, "job2_s" -> (t3 - t2) / 1e9)
    }, isolated = {
      def q(layer: String, name: String, query: Q) =
        (layer, name, () => c.noop(query.run(c.spark, c.data)))
      def docs = Tables.documents(c.spark, c.data)
      Seq(
        ("sources", "scan", () => c.noop(docs)),
        q("queries", "langid", Text.langid),
        q("queries", "quality", Text.quality),
        q("queries", "repetition", Text.repetition),
        q("queries", "exact_dedup", Dedup.exact),
        q("queries", "nb_score", Pipeline.qualityNbApply),
        q("queries", "near_dup_pairs", Dedup.ngramJaccard),
        q("queries", "split_safe", Dedup.splitSafe),
        q("queries", "wordpiece", Text.wordpieceApply),
        ("functions", "shingle", () => c.noop(Dedup.hashedShinglesOf(docs))),
        ("functions", "minhash_sig", () => c.noop(Dedup.hashedShinglesOf(docs)
          .groupBy(col("doc_id")).agg(Sketches.minhash(col("s"), 128).as("sig")))),
        ("operators", "global_prefix", () => c.noop(GlobalPrefix.withCumSums(
          docs.select(col("doc_id"), size(TextExprs.tokens(col("text"))).as("n")),
          Seq(col("doc_id")), Seq("cum" -> col("n")))._1)),
        ("queries", "minhash_lsh", () => c.noop(Dedup.minhashLsh.run(c.spark, c.data))),
        ("queries", "clusters", () => c.noop(Dedup.minLabelClusters(
          Dedup.minhashLsh.run(c.spark, c.data)
            .select(col("doc_a").as("da"), col("doc_b").as("db"))))))
    })
  }

  override def detail(): Map[String, Any] = {
    val docs = Tables.documents(c.spark, c.data)
    Map("docs" -> docs.count())
  }
}

/** A keyed merge-on-read lake derived from `orders`: the client
  * interleaves upsert batches, tombstone batches, merged reads (with an
  * exact-money aggregate) and, every `CompactEvery` writes, a
  * compaction plus vacuum. The schedule is fixed; the seed moves the
  * batch contents and the hot keys. */
final class LakeUpsert(c: Ctx) extends Workload {
  private val root = s"${c.work}/lake"
  private val CompactEvery = 4
  private val ReadEvery = 2
  private var batch = 0
  private var writes = 0
  // logical bytes the client handed in: 17 per upserted row (key,
  // price, status), 8 per tombstoned key
  private var userBytes = 0L
  // schedule position -> operation kind, one cycle = CompactEvery writes
  private val cycle: IndexedSeq[String] =
    (1 to CompactEvery).flatMap(w => "write" +: (if (w % ReadEvery == 0) Seq("read") else Nil)) :+
      "compact"
  private lazy val batches = Tables.load(c.spark, c.data, "lake_batches")
  // the client's script: batch -> (tombstone?, rows), known before timing
  private lazy val script: Map[Int, (Boolean, Long)] =
    batches.groupBy("batch").agg(max("tomb"), count(lit(1))).collect()
      .map(r => r.getInt(0) -> (r.getInt(1) == 1, r.getLong(2))).toMap
  private lazy val nBatches = script.size

  def resetState(): Unit = { Fs.rmEngineState(c.data); freshLake() }

  private def freshLake(): Unit = { Fs.rm(new File(root)); batch = 0; writes = 0; userBytes = 0L }

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    val base = Tables.orders(c.spark, c.data)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    Snapshots.publishAppend(base, root)
    userBytes += base.count() * 17L
    Map("base_publish_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = {
    // one untimed cycle, then a fresh lake (the batch table's scan
    // mirror stays) for the timed loop
    script
    (0 until cycle.length).foreach(i => next(i).run())
    freshLake()
    setup()
  }

  private def read(): DataFrame = Snapshots.readLogMerged(c.spark, root, "o_orderkey")

  private def aggregate(merged: DataFrame): DataFrame =
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("o_totalprice")).as("revenue"),
        sum(col("o_orderkey")).as("key_sum"))

  def next(i: Int): Op = {
    val kind = cycle(i % cycle.length)
    val endsCycle = i % cycle.length == cycle.length - 1
    kind match {
      case "write" =>
        val b = batch % nBatches
        Op("write", () => {
          val rows = batches.filter(col("batch") === b)
          val (tomb, n) = script(b)
          val v =
            if (tomb) Snapshots.publishDeletes(rows.select(col("o_orderkey")), root)
            else Snapshots.publishAppend(
              rows.select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")), root)
          batch += 1
          writes += 1
          userBytes += n * (if (tomb) 8L else 17L)
          Map("batch" -> b, "version" -> v, "tomb" -> tomb, "rows" -> n)
        }, isolated = Seq(
          ("sources", "scan", () => c.noop(batches.filter(col("batch") === b)))),
          endsCycle = endsCycle)
      case "read" =>
        Op("read", () => {
          val merged = read()
          val files = merged.inputFiles
          val versions = files.map(_.replaceAll(".*/v=(\\d+)/.*", "$1")).distinct.length
          val rows = aggregate(merged).collect()
          Map("after_batch" -> batch, "read_files" -> files.length, "read_window" -> versions,
            "groups" -> rows.map(r => Seq(r.getString(0), r.getLong(1),
              r.get(2).toString, r.getLong(3))))
        }, isolated = Seq(
          ("operators", "read_merged", () => c.noop(read())),
          ("functions", "exact_agg", () => c.noop(aggregate(read().localCheckpoint())))),
          endsCycle = endsCycle)
      case _ =>
        Op("compact", () => {
          val before = Fs.bytes(new File(root))
          val t0 = System.nanoTime()
          val v = Snapshots.compactLogMerged(c.spark, root, "o_orderkey")
          val t1 = System.nanoTime()
          Snapshots.vacuumLog(root)
          val t2 = System.nanoTime()
          Map("after_batch" -> batch, "version" -> v, "bytes_before" -> before,
            "bytes_after" -> Fs.bytes(new File(root)),
            "compact_s" -> (t1 - t0) / 1e9, "vacuum_s" -> (t2 - t1) / 1e9)
        }, isolated = Seq(("operators", "list", () => graft.operators.LakeFs.leaves(root))),
          endsCycle = endsCycle)
    }
  }

  override def detail(): Map[String, Any] = Map(
    "lake_bytes" -> Fs.bytes(new File(root)), "user_bytes" -> userBytes,
    "writes" -> writes, "compact_every" -> CompactEvery, "read_every" -> ReadEvery)
}

/** The fixed-cost band: oracle-gated registered queries of the Core,
  * Events, Stats and Graph modules, run one at a time in a seeded
  * order over the generated star schema. The query set is pinned (see
  * `Pinned`) so every seed measures the same mix; each pass runs every
  * pinned query once. */
final class AnalyticsMix(c: Ctx) extends Workload {
  private val modules: Seq[(String, Seq[Q])] =
    Seq("core" -> Core.all, "events" -> Events.all, "stats" -> Stats.all, "graph" -> Graph.all)
  private val byName: Map[String, (String, Q)] =
    modules.flatMap { case (m, qs) => qs.filter(_.oracle.isDefined).map(q => q.name -> (m -> q)) }.toMap
  private val pass: IndexedSeq[(String, Q)] = {
    val rnd = new scala.util.Random(c.seed)
    rnd.shuffle(AnalyticsMix.Pinned.map(byName)).toIndexedSeq
  }
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def resetState(): Unit = Fs.rmEngineState(c.data)

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    tables.foreach(t => Tables.load(c.spark, c.data, t).count())
    Map("mirror_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = {
    c.writeOracles(pass.map(_._2.name))
    pass.foreach { case (_, q) => c.noop(q.run(c.spark, c.data)); Harness.hygiene(c.spark) }
  }

  def next(i: Int): Op = {
    val (module, q) = pass(i % pass.length)
    Op("query", () => {
      val dir = c.out(s"q${i}_${q.name}")
      q.run(c.spark, c.data).write.parquet(dir)
      Map("name" -> q.name, "module" -> module, "dir" -> dir)
    }, isolated = Seq(
      ("sources", "scan", () => tables.foreach(t => c.noop(Tables.load(c.spark, c.data, t)))),
      ("queries", module, () => c.noop(q.run(c.spark, c.data)))),
      endsCycle = i % pass.length == pass.length - 1)
  }

  override def detail(): Map[String, Any] = Map("pass" -> pass.map(_._2.name))
}

object AnalyticsMix {
  /** The measured mix covers all four modules with queries that run in
    * about a second each at the workload's scale; `graph_khop`, the
    * Graph module's representative, takes about five. */
  val Pinned: Seq[String] = Seq(
    "q1_agg", "q_window_rank", "events_rolling", "events_retention", "q_anova",
    "graph_khop")
}
