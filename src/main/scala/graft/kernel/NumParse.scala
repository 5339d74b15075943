package graft.kernel

/** Allocation-free number parsing over a region of a payload, with
  * exactly the results of the `java.lang` parsers the kernels specify
  * (`Integer.parseInt`, `substring.trim.toDouble`), so replacing a
  * substring-then-parse changes no output byte.
  */
object NumParse {

  /** Failure value of `parseInt`: outside the int range, so no parse
    * can return it.
    */
  final val NoInt = Long.MinValue

  /** `Integer.parseInt(s.substring(from, until), radix)`, or NoInt where
    * that throws. Same grammar: one optional leading '+' or '-', then at
    * least one digit as `Character.digit` reads it (non-ASCII digits
    * included), value inside the int range.
    */
  def parseInt(s: String, from: Int, until: Int, radix: Int): Long = {
    if (from >= until) return NoInt
    var i = from
    val c0 = s.charAt(i)
    val neg = c0 == '-'
    if (neg || c0 == '+') {
      i += 1
      if (i == until) return NoInt
    }
    var v = 0L
    while (i < until) {
      val d = Character.digit(s.charAt(i), radix)
      if (d < 0) return NoInt
      v = v * radix + d
      if (v > Int.MaxValue.toLong + 1) return NoInt
      i += 1
    }
    if (neg) -v
    else if (v > Int.MaxValue) NoInt
    else v
  }

  // 10^k is exact in a double for k <= 22
  private val Pow10: Array[Double] = Array.tabulate(23)(k => math.pow(10, k))

  /** `s.substring(from, until).trim.toDouble`, throwing the same
    * NumberFormatException. `[-]digits[.digits]` with at most 15 digits
    * is parsed in place: the digits fit a double exactly, so one
    * correctly rounded division by an exact power of ten gives the
    * correctly rounded value `Double.parseDouble` returns. Any other
    * spelling (exponents, hex, signs, NaN, long mantissas) goes to
    * `Double.parseDouble`.
    */
  def parseDouble(s: String, from: Int, until: Int): Double = {
    var a = from
    var b = until
    while (a < b && s.charAt(a) <= ' ') a += 1
    while (b > a && s.charAt(b - 1) <= ' ') b -= 1
    var i = a
    val neg = i < b && s.charAt(i) == '-'
    if (neg) i += 1
    var m = 0L
    var intDigits = 0
    while (i < b && { val c = s.charAt(i); c >= '0' && c <= '9' }) {
      m = m * 10 + (s.charAt(i) - '0'); intDigits += 1; i += 1
    }
    var fracDigits = 0
    if (intDigits > 0 && i < b && s.charAt(i) == '.') {
      i += 1
      while (i < b && { val c = s.charAt(i); c >= '0' && c <= '9' }) {
        m = m * 10 + (s.charAt(i) - '0'); fracDigits += 1; i += 1
      }
      if (fracDigits == 0) i = -1 // "1." : not the in-place grammar
    }
    if (i == b && intDigits > 0 && intDigits + fracDigits <= 15) {
      val v = m.toDouble / Pow10(fracDigits)
      if (neg) -v else v
    } else java.lang.Double.parseDouble(s.substring(a, b))
  }
}
