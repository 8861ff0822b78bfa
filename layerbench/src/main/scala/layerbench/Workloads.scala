package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.GraftFunctions

/** One step of a workload: a call of one public function of one engine
  * module, either through the registered query that wraps it or directly.
  *
  * @param module the engine package the step exercises (`ingest`, `core`, ...)
  * @param kernel for a native-expression step, the expression's SQL name
  * @param oracle DuckDB SQL over the generated tables that must give the
  *               same rows (the registered `SparkEntry.oracleSql` for
  *               query steps)
  */
final case class Step(
    name: String,
    module: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    kernel: Option[String] = None)

object Workloads {

  private lazy val queries = SparkEntry.queries
  private lazy val oracles = SparkEntry.oracleSql

  private def q(module: String, name: String): Step =
    Step(name, module, queries(name), oracles.get(name))

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The reference's read/write surface, scan-, write- and planning-bound
    * (including the q232 census straggler), plus two driver-bound steps that
    * run dozens of small jobs each: a graph loop over the relational tables
    * and the streaming dedup lifecycle (micro-batches, ledger writes). */
  val etlIngest: Seq[Step] = Seq(
    q("ingest", "q113_csv_load"),
    q("ingest", "q232_json_path_profile"),
    q("core", "q116_table_copy"),
    q("core", "q123_sharded_write"),
    q("ops", "q01_pricing_summary"),
    q("ops", "q262_bfs_levels"),
    q("streaming", "q158_streaming_dedup_lifecycle"))

  // ---- native-expression kernel steps -------------------------------------

  /** Every fifth vector against all vectors. */
  private def pairs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a"), col("label"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
  }

  /** Every fourth document's 40-char prefix, all pairs a < b. */
  private def prefixPairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
    d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.p").as("a_p"), col("b.p").as("b_p"))
  }

  /** Fixed merge table: the commonest letter pairs of the corpus vocabulary. */
  private val merges: Seq[(String, String)] = Seq(
    "a" -> "t", "e" -> "r", "i" -> "n", "o" -> "r", "a" -> "l", "e" -> "n",
    "s" -> "t", "t" -> "a", "in" -> "g", "ta" -> "b", "tab" -> "l",
    "c" -> "o", "u" -> "e", "ue" -> "r")

  private val bloomKeys: Array[Byte] = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(20000L, 1e-9)
    (0L until 60000L by 3L).foreach(f.putLong)
    val out = new java.io.ByteArrayOutputStream
    f.writeTo(out)
    out.toByteArray
  }

  /** Little-endian WKB polygon: the unit square at (x0, y0). */
  private val squareWkb = udf { (x0: Int, y0: Long) =>
    val b = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + 5 * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(3).putInt(1).putInt(5)
    Seq((0, 0), (1, 0), (1, 1), (0, 1), (0, 0)).foreach { case (dx, dy) =>
      b.putDouble((x0 + dx).toDouble).putDouble((y0 % 100 + dy).toDouble)
    }
    b.array()
  }

  val kernels: Seq[Step] = Seq(
    Step("k_cosine_sim", "functions",
      (s, dir) => pairs(s, dir)
        .withColumn("sim", GraftFunctions.cosineSim(col("a"), col("b")))
        .groupBy("a_id").agg(sum(when(col("sim") > 0.2, 1).otherwise(0)).as("n_close"))
        .orderBy("a_id"),
      Some("""SELECT a.vec_id AS a_id,
             |  CAST(sum(CASE WHEN list_cosine_similarity(a.embedding, b.embedding) > 0.2
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_close
             |FROM embeddings a, embeddings b WHERE a.vec_id % 5 = 0
             |GROUP BY a.vec_id ORDER BY a_id""".stripMargin),
      Some("cosine_sim")),
    Step("k_dot_product", "functions",
      (s, dir) => pairs(s, dir)
        .withColumn("dp", GraftFunctions.dotProduct(col("a"), col("b")))
        .groupBy("label").agg(sum(when(col("dp") > 0.1, 1).otherwise(0)).as("n_close"))
        .orderBy("label"),
      Some("""SELECT a.label,
             |  CAST(sum(CASE WHEN list_dot_product(a.embedding, b.embedding) > 0.1
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_close
             |FROM embeddings a, embeddings b WHERE a.vec_id % 5 = 0
             |GROUP BY a.label ORDER BY a.label""".stripMargin),
      Some("dot_product")),
    Step("k_jaro_winkler", "functions",
      (s, dir) => prefixPairs(s, dir)
        .withColumn("jw", GraftFunctions.jaroWinklerMicro(col("a_p"), col("b_p")))
        .groupBy("a_id").agg(sum(when(col("jw") >= 800000, 1).otherwise(0)).as("n_close"))
        .orderBy("a_id"),
      Some("""WITH d AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents WHERE doc_id % 4 = 0)
             |SELECT a.doc_id AS a_id,
             |  CAST(sum(CASE WHEN round(jaro_winkler_similarity(a.p, b.p) * 1000000) >= 800000
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_close
             |FROM d a JOIN d b ON a.doc_id < b.doc_id GROUP BY a.doc_id ORDER BY a_id""".stripMargin),
      Some("jaro_winkler_micro")),
    Step("k_nfc_normalize", "functions",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), length(GraftFunctions.nfcNormalize(
          concat(col("text"), lit("é"), col("lang")))).as("n"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(length(nfc_normalize(text || 'e' || chr(769) || lang)) AS INTEGER) AS n
             |FROM documents ORDER BY doc_id""".stripMargin),
      Some("nfc_normalize")),
    Step("k_bpe_tokens", "functions",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), size(GraftFunctions.bpeTokens(col("text"), merges)).as("n"))
        .orderBy("doc_id"),
      None, Some("bpe_tokens")),
    Step("k_cut_token_runs", "functions",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), length(GraftFunctions.cutTokenRuns(col("text"),
          array(lit(1), lit(2), lit(5)))).as("n"))
        .orderBy("doc_id"),
      None, Some("cut_token_runs")),
    Step("k_bloom_might_contain", "functions",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_linenumber"))
        .agg(sum(when(GraftFunctions.bloomMightContain(col("l_orderkey"), bloomKeys), 1)
          .otherwise(0)).as("n_hit"))
        .orderBy("l_linenumber"),
      Some("""SELECT l_linenumber, CAST(sum(CASE WHEN l_orderkey % 3 = 0 AND l_orderkey < 60000
             |  THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
             |FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin),
      Some("bloom_might_contain")),
    Step("k_wkb_rings", "functions",
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"), GraftFunctions.wkbRings(
          squareWkb(col("p_size"), col("p_partkey")), 1000L).as("r"))
        .select(col("p_partkey"),
          aggregate(col("r").getItem(0), lit(0L), (acc, p) => acc + p.getField("x")).as("sx"),
          aggregate(col("r").getItem(0), lit(0L), (acc, p) => acc + p.getField("y")).as("sy"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, CAST(1000 * (4 * p_size + 2) AS BIGINT) AS sx,
             |  CAST(1000 * (4 * (p_partkey % 100) + 2) AS BIGINT) AS sy
             |FROM part ORDER BY p_partkey""".stripMargin),
      Some("wkb_rings")))

  /** LLM-data operators over documents and embeddings and one step per
    * native expression: executor-CPU bound. */
  val llmCorpus: Seq[Step] = Seq(
    q("text", "q22_text_stats"),
    q("sim", "q30_ann_topk"),
    q("dedup", "q143_remove_duplicate_spans"),
    q("pipeline", "q128_llm_pipeline_e2e"),
    q("multimodal", "q98_image_decode")) ++ kernels

  val all: Map[String, Seq[Step]] = Map(
    "etl_ingest" -> etlIngest,
    "llm_corpus" -> llmCorpus)
}
