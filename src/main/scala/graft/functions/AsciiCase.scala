package graft.functions

/** ASCII-only case-insensitive matching — what a Java `(?i)` regex does
  * without UNICODE_CASE, and so what the native HTML expressions must do
  * to stay bit-identical to their `(?is)` reference regexes.
  * `String.regionMatches(true, …)` folds across all of Unicode instead:
  * U+017F `ſ` matches `s`, U+212A (Kelvin) matches `k` and U+0130 `İ`
  * matches `i`. Needles are lowercase ASCII.
  */
private[functions] object AsciiCase {

  def regionMatches(s: String, at: Int, needle: String): Boolean = {
    val n = needle.length
    if (at < 0 || at > s.length - n) return false
    var k = 0
    while (k < n) {
      val c = s.charAt(at + k)
      val lower = if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c
      if (lower != needle.charAt(k)) return false
      k += 1
    }
    true
  }

  def indexOf(s: String, needle: String, from: Int): Int = {
    val last = s.length - needle.length
    var i = math.max(from, 0)
    while (i <= last) {
      if (regionMatches(s, i, needle)) return i
      i += 1
    }
    -1
  }
}
