package graft.etl

/** Python-compatible text rendering for fidelity-mode CSV output
  * (SURVEY.md §7.4): the reference writes CSV via Python, so floats render
  * as `repr(float)` (shortest round-trip, e-notation outside
  * [1e-4, 1e16)).
  *
  * Golden comparisons are value-level, so this is best-effort textual
  * parity: JDK 17's Double.toString is round-trip-safe but not always
  * shortest; the e-notation band conversion below covers the ranges where
  * Java and Python disagree structurally.
  */
object PyFormat {

  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    val abs = math.abs(d)
    // negative zero: BigDecimal(-0.0).toBigInteger is 0, but Python
    // repr(-0.0) keeps the sign
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    // Python: integral floats inside the plain band render as "N.0"
    if (d == math.rint(d) && abs < 1e16)
      return new java.math.BigDecimal(d).toBigInteger.toString + ".0"
    val js = java.lang.Double.toString(d)
    if (abs >= 1e-4 && abs < 1e16) {
      // Python uses plain notation here; Java switches to E-notation at
      // >=1e7 and <1e-3 — re-render plainly.
      if (!js.contains('E')) js
      else stripTrailingZeros(new java.math.BigDecimal(js).toPlainString)
    } else {
      // Python e-notation: mantissa (no trailing .0) + e±XX (2+ digits)
      val bd = new java.math.BigDecimal(js)
      val unscaled = bd.unscaledValue.abs.toString
      val digits = unscaled.replaceAll("0+$", "") match { case "" => "0"; case x => x }
      val exp = unscaled.length - bd.scale - 1
      val mant = if (digits.length == 1) digits
        else digits.head.toString + "." + digits.tail
      val sign = if (d < 0) "-" else ""
      val esign = if (exp < 0) "-" else "+"
      f"$sign$mant%se$esign${math.abs(exp)}%02d"
    }
  }

  private def stripTrailingZeros(s: String): String =
    if (s.contains('.')) {
      val t = s.replaceAll("0+$", "")
      if (t.endsWith(".")) t + "0" else t
    } else s

  /** One CSV field, Python csv QUOTE_MINIMAL dialect: quote only when the
    * value contains delimiter, quote, CR or LF; embedded quotes double. */
  def csvField(v: String): String =
    if (v.exists(ch => ch == ',' || ch == '"' || ch == '\r' || ch == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** One CSV record line (no terminator). */
  def csvLine(fields: Seq[String]): String = fields.map(csvField).mkString(",")
}
