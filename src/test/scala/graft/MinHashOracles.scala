package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextAnalysis}

/** The column chain the MinHash kernel (Dedup.minHashSignatureOf,
  * graft.plans.MinHashSigExpr) replaces, kept as its reference: tokens →
  * distinct k-shingles (TextAnalysis.shinglesOf) → portableHash60 mod P →
  * one `array_min(transform(…))` lambda per component. Slow on purpose
  * (interpreted higher-order functions); it shares only the hash family
  * (Dedup.MinHashP, minhashA, minhashB) with the kernel. Each stage is its
  * own projection, as the chain ran: inlining re-evaluates the upstream
  * expression once per lambda element. */
object MinHashOracles {

  /** Component i = min over the pre-hashed shingles h of (h·a_i + b_i) mod P. */
  def signatureFromHashes(hashedShingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(hashedShingles,
        h => (h * Dedup.minhashA(i) + Dedup.minhashB(i)) % Dedup.MinHashP))): _*)

  /** `(cols…, sig)`: the signature of the token-array column `toks` of `df`. */
  def signaturesOfTokens(df: DataFrame, toks: String, k: Int,
      numHashes: Int): DataFrame = {
    val keep = df.columns.filterNot(_ == toks).toSeq.map(col)
    df.select(keep :+ TextAnalysis.shinglesOf(col(toks), k).as("__sh"): _*)
      .select(keep :+ transform(col("__sh"),
        s => Dedup.portableHash60(s) % Dedup.MinHashP).as("__h"): _*)
      .select(keep :+ signatureFromHashes(col("__h"), numHashes).as("sig"): _*)
  }

  /** The chain's `(id, sig)` table over a text column (lower-cased tokens). */
  def signatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, k: Int): DataFrame =
    signaturesOfTokens(df.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__toks")), "__toks", k, numHashes)
}
