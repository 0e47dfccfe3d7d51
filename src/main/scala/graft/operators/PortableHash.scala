package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * xxhash64/murmur are Spark-internal: no other engine reproduces them, so
  * anything hashed with them is opaque outside the job. Operators whose
  * hashed values become IDENTITY AT REST (fingerprints, sketch signatures,
  * sampling keys that an independent engine must be able to re-derive —
  * e.g. the DuckDB correctness oracles, or a downstream non-Spark reader)
  * use this instead: the top 60 bits of md5, which every engine exposes.
  *
  * `parse_hex(md5(x)[0,15))` — 15 hex digits = 60 bits, always
  * non-negative, fits a long with headroom (no ANSI overflow on later
  * modular arithmetic). DuckDB replays it as
  * `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`.
  *
  * Cost: md5 is ~4x xxhash64 per call — narrow-map work that is
  * scan-dominated at 100 TB. Keep xxhash64 for hashes that never leave the
  * job (shuffle keys, in-job gram hashes); the MinHash and SimHash
  * sketches in `Dedup` use this family only.
  */
object PortableHash {

  /** 60-bit non-negative hash of a string column, identical in DuckDB. */
  def portable60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver/executor-side scalar twin of [[portable60]] — same value as
    * the Column form and as [[duckSql]], for code that hashes outside a
    * plan (centroid sampling on the driver, payload generators).
    */
  def portable60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** DuckDB SQL fragment replaying [[portable60]] over `expr`. */
  def duckSql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Full-width 64-bit portable hash (md5's top 16 hex digits), assembled
    * from two 32-bit halves with bit ops so neither engine's ANSI/overflow
    * checks trip on the sign bit. Negative values are intended — this is
    * the two's-complement view of the top 8 digest bytes. Used where all
    * 64 bit positions carry signal (SimHash bit votes); [[portable60]] is
    * the arithmetic-friendly choice everywhere else.
    */
  def portable64(c: Column): Column = {
    val hex = md5(c)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }
}
