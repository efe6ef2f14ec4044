package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 embedding quantization — the memory lever that makes ANN viable
  * at 10^9+ vectors (4x smaller vectors, SIMD-friendly integer dot
  * products downstream; the standard scalar-quantization baseline from
  * the FAISS/ScaNN literature).
  *
  * Symmetric per-vector max-abs scheme:
  *   scale = max_i |v_i| / 127         (0-vectors get scale 0, q = 0s)
  *   q_i   = floor(v_i / scale + 0.5)  (explicit half-up; no engine
  *                                      round() semantics in play, so a
  *                                      DuckDB oracle replays it exactly)
  *   v_i ≈ q_i * scale
  *
  * Everything is a codegen'd higher-order column expression over the
  * vector array — record-local, shuffle-free, no UDF.
  */
object Quant {

  /** max_i |v_i| as a double (0.0 for empty vectors). */
  def maxAbs(v: Column): Column =
    aggregate(Ann.asDouble(v), lit(0.0), (acc, x) => greatest(acc, abs(x)))

  /** (scale, q): per-vector symmetric int8 quantization. q values are
    * in [-127, 127] by construction (the max-abs element maps to ±127).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val m = maxAbs(col(vecCol))
    val scale = when(m === 0.0, lit(0.0)).otherwise(m / 127.0)
    df.select(
      col(idCol).cast("long").as("vec_id"),
      scale.as("scale"),
      when(col(vecCol).isNull, lit(null))
        .otherwise(when(m === 0.0, transform(Ann.asDouble(col(vecCol)), _ => lit(0)))
          .otherwise(transform(Ann.asDouble(col(vecCol)),
            x => floor(x / (m / 127.0) + 0.5).cast("int"))))
        .as("q"))
  }
}
