package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Layouts

/** The corpus recipes every text and vector family shares, each spelled
  * once in both dialects: the 60-bit md5 hash, the document tokenizer
  * and the embedding loads. A family that needs one of them calls it
  * here, so its Spark side and its DuckDB oracle cannot drift apart.
  *
  * Every member that builds a DataFrame or a `Column` is a `def`: each
  * call makes fresh attribute ids, so a self-join of two loads plans
  * exactly as two separate loads (a shared `val` would put one ExprId on
  * both sides). The oracle fragments are plain strings.
  */
object Corpus {

  // ── 60-bit md5 hash ──────────────────────────────────────────────────

  /** The first 15 hex digits of md5(e) as a non-negative 60-bit bigint —
    * Spark SQL dialect. Uniform on [0, 2⁶⁰) and engine-portable: the
    * same bits in both engines, so hash-driven samples, shards and
    * signatures compare exactly against the oracle. */
  def h60Spark(e: String): String =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) as bigint)"

  /** Same hash, DuckDB dialect. */
  def h60Duck(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** The hash of a numeric id column's decimal text — Spark SQL. */
  def idHash60Spark(idCol: String): String =
    h60Spark(s"cast($idCol as string)")

  /** The hash of a numeric id column's decimal text — DuckDB. */
  def idHash60Duck(idCol: String): String =
    h60Duck(s"CAST($idCol AS VARCHAR)")

  // ── documents ────────────────────────────────────────────────────────

  /** documents, round-robin repartitioned by `Layouts.spread`: one
    * partition per `spark.sql.files.maxPartitionBytes` of estimated
    * input, clamped to [1, defaultParallelism]. The fixture tables are
    * far below the default 128 MB, so they stay at width 1 there; the
    * width grows with the corpus. */
  def documents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").transform(Layouts.spread)

  /** The whitespace tokenizer: lower-cased text split on single spaces. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** The tokenizer, DuckDB dialect. */
  def tokensDuck(text: String): String = s"string_split(lower($text), ' ')"

  /** documents → (doc_id, keep…, toks: array<string>). */
  def toks(s: SparkSession, dir: String, keep: String*): DataFrame =
    documents(s, dir).select(
      (col("doc_id") +: keep.map(col)) :+ tokens(col("text")).as("toks"): _*)

  /** `toks` as a DuckDB subquery over `documents`. */
  def toksDuck(keep: String*): String =
    s"(SELECT ${("doc_id" +: keep).mkString(", ")}, ${tokensDuck("text")} AS toks FROM documents)"

  /** documents → (doc_id, keep…, tok): one row per token occurrence. */
  def tok(s: SparkSession, dir: String, keep: String*): DataFrame =
    documents(s, dir).select(
      (col("doc_id") +: keep.map(col)) :+ explode(tokens(col("text"))).as("tok"): _*)

  /** `tok` as a DuckDB subquery over `documents`. */
  def tokDuck(keep: String*): String =
    s"""(SELECT ${("doc_id" +: keep).mkString(", ")}, unnest(${tokensDuck("text")}) AS tok
       FROM documents)"""

  // ── embeddings ───────────────────────────────────────────────────────

  /** An embeddings-shaped frame → (vec_id, v: array<double>, keep…),
    * `v` the exact float → double widening of `embedding`. Works on a
    * batch or a streaming frame. */
  def vecsOf(embeddings: DataFrame, keep: String*): DataFrame =
    embeddings.select(
      col("vec_id") +: VectorOps.toDouble(col("embedding")).as("v") +: keep.map(col): _*)

  /** `vecsOf` plus the L2 norm `nrm`. */
  def nvecsOf(embeddings: DataFrame, keep: String*): DataFrame =
    vecsOf(embeddings, keep: _*).withColumn("nrm", VectorOps.norm(col("v")))

  /** embeddings → (vec_id, v). */
  def vecs(s: SparkSession, dir: String): DataFrame =
    vecsOf(Tables.load(s, dir, "embeddings"))

  /** embeddings → (vec_id, v, keep…, nrm). */
  def nvecs(s: SparkSession, dir: String, keep: String*): DataFrame =
    nvecsOf(Tables.load(s, dir, "embeddings"), keep: _*)

  /** The `vecs` CTE (vec_id, v), DuckDB dialect. */
  val vecsDuck: String =
    s"""vecs AS (
         SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v
         FROM embeddings)"""

  /** The `vecs` CTE followed by `nvecs` (vec_id, v, nrm), DuckDB dialect. */
  val nvecsDuck: String =
    vecsDuck + """,
       nvecs AS (
         SELECT vec_id, v, %s AS nrm FROM vecs)""".format(VectorOps.duckNorm("v"))
}
