package graft

/** The 4dp HALF_UP fixed point that the batch forms' DECIMAL(·,4) casts
  * compute, for code that folds values by hand (the streaming
  * processors, `vector_moments`): `snap` is the unscaled 1e-4 long,
  * `unsnap` turns one back into a double, `round4` is the rounded double.
  */
object Fixed4 {
  private def scaled(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP)

  def snap(v: Double): Long = scaled(v).unscaledValue().longValue()

  def unsnap(u: Long): Double = java.math.BigDecimal.valueOf(u, 4).doubleValue()

  def round4(v: Double): Double = scaled(v).doubleValue()
}
