package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared pieces of the auto-tier decisions (LSH bands, IVF probes,
  * cell probes) and of the fits that feed them (IVF and PQ centroids).
  */
object TierChoice {

  /** The rows of `df` whose column `c` hashes below `frac` of the space:
    * `pmod(xxhash64(c, seed), 10⁶) < round(frac · 10⁶)`, or all of `df`
    * when `frac` ≥ 1. Membership is a pure function of (value, seed), so
    * the sample, and every centroid or tier picked from it, is the same
    * however the input is partitioned (`df.sample` draws per partition).
    */
  def sample(df: DataFrame, c: String, frac: Double, seed: Long): DataFrame =
    if (frac >= 1.0) df
    else df.filter(pmod(xxhash64(col(c), lit(seed)), lit(1000000L)) <
      math.round(frac * 1000000.0))
}
