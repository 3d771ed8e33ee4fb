package graft.functions

import java.security.MessageDigest

/** Deterministic constant derivation — the engine has NO runtime RNG (seeded
  * or otherwise): every "random" constant (minhash permutation coefficients,
  * LSH hyperplane signs) is a pure function of a name string via md5, so any
  * run, any engine, and the DuckDB oracle all agree, and constants can be
  * inlined as literals into generated SQL.
  */
object Determinism {

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** First 60 bits of md5 as a non-negative long — matches the SQL forms
    * `conv(substr(md5(s),1,15),16,10)` (Spark) and
    * `('0x'||substr(md5(s),1,15))::BIGINT` (DuckDB).
    */
  def md5Long(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** [[md5Long]] of the SQL string expression `e`, spelled as Spark SQL: the
    * one Spark-side spelling of the engine-portable 60-bit hash.
    */
  def md5LongSql(e: String): String =
    s"cast(conv(substr(md5($e), 1, 15), 16, 10) as bigint)"

  /** n ±1.0 signs from the bits of md5(seed) (n <= 128). */
  def signs(seed: String, n: Int): IndexedSeq[Double] = {
    require(n <= 128)
    val d = MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
    (0 until n).map(c => if (((d(c / 8) >> (c % 8)) & 1) == 1) 1.0 else -1.0)
  }
}
