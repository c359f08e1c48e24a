package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for the LLM-data-pipeline operators (dedup,
  * similarity, text analysis). The helpers here compose Spark's built-in
  * functions (tokenization, md5 buckets, LSH band keys). The native
  * Catalyst expressions beside them (NGramShingles, MinHashSig, SimHash64,
  * …) are wrapped into Columns directly by their companions' builders, so
  * a query uses them with no per-session setup.
  */
package object functions {

  /** Whitespace tokenization (the reference's split(" ") —
    * homework-4/.../InvertedMain.scala:15).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** 16-bit md5-prefix bucket of `s` as a long in [0, 65536) — the raw
    * integer form of [[md5Uniform]] (use directly for `% nShards`-style
    * bucketing).
    */
  def md5Bucket16(s: Column): Column =
    conv(substring(md5(s), 1, 4), 16, 10).cast("long")

  /** 16-bit md5-prefix of `s` scaled to a uniform double in [0, 1) — the
    * deterministic, engine-portable hash behind the sampling / splitting /
    * sharding family (each oracle spells the identical
    * `conv(substring(md5(…),1,4),16,10)/65536` SQL). ONE definition so a
    * change to the idiom (e.g. widening the prefix) cannot reach one
    * query and miss another; see [[md5Bucket16]] for the raw bucket.
    */
  def md5Uniform(s: Column): Column =
    md5Bucket16(s).cast("double") / 65536.0

  /** LSH band keys for a minhash signature: bands of `rowsPerBand` hashes,
    * each band hashed to one bucket key. Docs sharing ANY band key are
    * candidate pairs.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, concat_ws("_", slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand))))
          .as("bucket")))
}
