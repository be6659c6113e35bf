package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** The north-rule input: a catalog of source-code repository files with
  * columns (repo, path, commit, lang, content), synthesized deterministically
  * (seed-pinned, no wall clock) at any scale — plus the pattern-extraction and
  * shared-pattern self-join that turn it into the engine's edge table
  * (repos as vertices, shared import links as edges).
  *
  * Everything is pure Catalyst expressions (xxhash64/sha2/sequence/transform),
  * so generation is distributed, columnar, and reproducible at any
  * parallelism. The per-row invariant `sha2(content, 256)` is exposed for the
  * input-hint equality check.
  */
object RepoFiles {

  val Langs: Seq[String] = Seq("scala", "python", "java", "go")

  /** Digits a token id is zero-padded to: at least 3, and enough for the
    * largest id `vocab − 1` (lpad truncates longer strings).
    */
  private def tokenWidth(vocab: Int): Int = math.max(3, (vocab - 1).toString.length)

  /** Import-line syntax per language (the extraction regex must invert it). */
  private def importLine(lang: Column, token: Column, width: Int): Column = {
    val lib = concat(lit("lib"), lpad(token.cast("string"), width, "0"))
    when(lang === "scala", concat(lit("import "), lib, lit("._")))
      .when(lang === "python", concat(lit("import "), lib))
      .when(lang === "java", concat(lit("import "), lib, lit(".*;")))
      .otherwise(concat(lit("import \""), lib, lit("\""))) // go
  }

  /** Extraction regex per language, capture group 1 = libNNN (3+ digits). */
  def importPattern(lang: String): String = lang match {
    case "scala" => """import (lib\d{3,})\._"""
    case "python" => """import (lib\d{3,})(?:\n|$)"""
    case "java" => """import (lib\d{3,})\.\*;"""
    case "go" => """import "(lib\d{3,})""""
  }

  /** Deterministic repo-file table.
    *
    * @param numRepos     R vertices-to-be
    * @param filesPerRepo F files per repo (hub repos — every 97th — get 4×)
    * @param vocab        V distinct import tokens; selection is power-skewed
    *                     (u² law) so a few tokens are hot — the skew fixture
    * @param seed         generation seed (feeds every hash)
    */
  def table(
      spark: SparkSession,
      numRepos: Long,
      filesPerRepo: Int = 20,
      vocab: Int = 500,
      seed: Long = 42L
  ): DataFrame = {
    import spark.implicits._
    val files = spark
      .range(numRepos)
      .select(
        format_string("repo%07d", $"id").as("repo"),
        $"id".as("repoId"),
        explode(
          sequence(lit(0),
            when(pmod($"id", lit(97)) === 0, lit(filesPerRepo * 4 - 1))
              .otherwise(lit(filesPerRepo - 1)))).as("fileSeq"))
    val langExpr = element_at(
      array(Langs.map(lit): _*),
      (pmod(xxhash64($"repoId", $"fileSeq", lit(seed)), lit(4)) + 1).cast("int"))
    val withLang = files
      .withColumn("lang", langExpr)
      .withColumn(
        "path",
        format_string("src/f%04d.%s", $"fileSeq",
          element_at(
            map(lit("scala"), lit("scala"), lit("python"), lit("py"),
              lit("java"), lit("java"), lit("go"), lit("go")),
            $"lang")))
    val width = tokenWidth(vocab)
    val lines = transform(lineSeq(seed), i => importLine(col("lang"), tokenAt(i, vocab, seed), width))
    withLang
      .select(
        $"repo",
        $"path",
        substring(sha2(concat($"repo", lit("/"), $"path", lit(s"@$seed")), 256), 1, 40).as("commit"),
        $"lang",
        concat(
          format_string("// %s — generated fixture (seed %d)", $"path", lit(seed)),
          lit("\n"),
          array_join(lines, "\n")).as("content"))
  }

  /** Line indices 0..K−1 of a file: K import lines, K in [1, 8]. */
  private def lineSeq(seed: Long): Column =
    sequence(lit(0), (pmod(xxhash64(col("repo"), col("path"), lit(seed + 1)), lit(8)) + 1).cast("int") - 1)

  /** Token id of line `i`, power-skewed toward 0. */
  private def tokenAt(i: Column, vocab: Int, seed: Long): Column =
    floor(
      lit(vocab) * pow(
        pmod(xxhash64(col("repo"), col("path"), i, lit(seed + 2)), lit(1000000)).cast("double") / 1000000.0,
        2.0)).cast("int")

  /** (repo, token id) of every import line [[table]] generates for `files`
    * — the ids before rendering, to check extraction against.
    */
  private[graft] def generatedTokens(files: DataFrame, vocab: Int, seed: Long = 42L): DataFrame =
    files.select(col("repo"), explode(transform(lineSeq(seed), i => tokenAt(i, vocab, seed))).as("token"))

  /** Per-row invariant column for the input-hint check: sha2(content, 256). */
  def withContentHash(files: DataFrame): DataFrame =
    files.withColumn("content_sha256", sha2(col("content"), 256))

  /** Extract (repo, token) incidences from content — one literal regex per
    * language (regexp_extract_all + explode; no UDFs). ONE scan: the regex
    * is selected per row by a `when` chain over `lang` (each branch keeps a
    * foldable pattern literal, so every regex still compiles once in
    * codegen) — the previous per-lang filter+union re-scanned, and for a
    * generated frame re-synthesized, the whole table once per language.
    */
  def repoTokens(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val extracted = Langs.tail.foldLeft(
      when($"lang" === Langs.head,
        regexp_extract_all($"content", lit(importPattern(Langs.head)), lit(1)))) {
      case (acc, lg) =>
        acc.when($"lang" === lg, regexp_extract_all($"content", lit(importPattern(lg)), lit(1)))
    }
    files.select($"repo", explode(extracted).as("token"))
  }

  /** Shared-pattern edges: distinct (repo, token) incidences self-joined on
    * token → directed edges both ways between distinct repos sharing a token;
    * duplicate pairs (many shared tokens) fold to weights downstream.
    *
    * Skew guard (north rule): tokens shared by more than `maxReposPerToken`
    * repos are dropped before the self-join — a hot token over T repos emits
    * T² pairs, so ubiquitous "stop tokens" would quadratically dominate while
    * carrying no linkage signal (the same reasoning as stopword removal). The
    * cutoff is an explicit knob.
    */
  def sharedPatternEdges(files: DataFrame, maxReposPerToken: Int = 1000): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val kept = keptTokens(files, maxReposPerToken)
    val a = kept.select($"token", $"repo".as("repoA"))
    val b = kept.select($"token", $"repo".as("repoB"))
    a.join(b, Seq("token"))
      .filter($"repoA" =!= $"repoB") // both orientations emerge from the join
      .select(
        xxhash64($"repoA").as("src"), // stable 64-bit external vertex ids
        xxhash64($"repoB").as("dst"))
  }

  /** repo → stable external vertex id used by [[sharedPatternEdges]]. */
  def repoIdMap(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select($"repo").distinct().select($"repo", xxhash64($"repo").as("extId"))
  }

  /** Full pipeline: synthesize (or take) a repo-file table and build the graph.
    *
    * The shared-pattern pair stream is symmetric by construction (both
    * orientations of every repo pair, identical multiplicities), so the fold
    * runs on the a<b HALF of the self-join output and mirrors the folded
    * result — the join emits half the rows and the fold exchange carries half
    * the bytes (guide §2.3), while the folded edge set handed to the graph
    * build is identical to folding the full both-orientations stream: the
    * weight of (a, b) is the shared-token count either way.
    */
  def linkGraph(spark: SparkSession, files: DataFrame, maxReposPerToken: Int = 1000): LinkGraph = {
    import spark.implicits._
    val rt = keptTokens(files, maxReposPerToken)
    val a = rt.select($"token", $"repo".as("repoA"))
    val b = rt.select($"token", $"repo".as("repoB"))
    val half = a.join(b, Seq("token"))
      .filter($"repoA" < $"repoB")
      .select(xxhash64($"repoA").as("src"), xxhash64($"repoB").as("dst"))
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).cast("double").as("weight"))
    // mirror INSIDE one projection: the previous union shape re-ran the final
    // fold aggregation once per branch (ReuseExchange dedups only the
    // exchange underneath) — same folded row set, one evaluation (guide §2.4)
    val folded = half
      .select(explode(array(
        struct($"src", $"dst", $"weight"),
        struct($"dst".as("src"), $"src".as("dst"), $"weight"))).as("e"))
      .select($"e.src", $"e.dst", $"e.weight")
    LinkGraph.fromFoldedEdgeList(spark, folded)
  }

  /** Distinct (repo, token) incidences surviving the hot-token cap — the
    * candidate-generation input shared by [[sharedPatternEdges]] and
    * [[linkGraph]].
    */
  private def keptTokens(files: DataFrame, maxReposPerToken: Int): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val rt = repoTokens(files).distinct()
    val tokenCounts = rt.groupBy($"token").agg(count(lit(1)).as("nRepos"))
    rt.join(tokenCounts.filter($"nRepos" <= maxReposPerToken).select($"token"), Seq("token"))
  }
}
