package graft.core

import org.apache.spark.sql.SparkSession

/** Env-driven session-config overlay for the single-key mains
  * (BenchOne / ProfileOne — Bench and Verify do not apply it):
  * `SPARK_GRAFT_EXTRA_CONF` holds `;`-separated `key=value` pairs
  * applied on top of each main's fixed defaults. Two uses:
  *
  *  - A/B measurement without recompiling (the optimization guide's
  *    "measure first" loop): run the same key under candidate configs
  *    and keep only what the numbers justify.
  *  - Deployment-scale overrides (executor counts, shuffle sizing)
  *    that must never be hard-coded into the bench contract.
  *
  * Unset it is a no-op, so a single-key measurement runs under the
  * mains' defaults unless an overlay is explicitly asked for.
  */
object ExtraConf {
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';'))
      .map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry is not key=value: $kv")
        b.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    b
  }
}
