package graft.functions

/** Ecosystem-specific version orderings (VERDICT r2 item 8; SURVEY.md §1.1:
  * RPM and Alpine order versions DIFFERENTLY from Debian — a single "the"
  * ordering mispredicts real package databases).
  *
  * Each ecosystem ships a `compare` (total order) and a `sortKey` whose
  * LEXICOGRAPHIC order equals `compare`'s order — the sort-key form is what
  * survives a 100 TB shuffle/sort (plain string keys sort natively;
  * EcoVersionSpec property-checks key-order == compare-order per
  * ecosystem). Dispatch via [[EcoVersion]]; `'deb'` (default) is the
  * existing [[VersionOrder]].
  *
  * Divergences encoded (and pinned by EcoVersionSpec truth tables):
  *   - rpm: at a segment boundary a NUMERIC segment beats an ALPHA one
  *     (`1.0.1 > 1.0.a`), while Debian compares bytes inside alternating
  *     runs (`1.0.a > 1.0.1`). Separators only break segments and are
  *     otherwise ignored (`1_0 == 1.0`), unlike Debian where `_` and `.`
  *     are distinct bytes. `~` sorts before everything, `^` after
  *     end-of-string but before any segment.
  *   - apk: `_alpha/_beta/_pre/_rc` sort BEFORE the bare version and `_p`
  *     after; a trailing letter sorts after the bare version.
  */
object RpmVersion {
  private def isSep(c: Char): Boolean =
    !c.isLetterOrDigit && c != '~' && c != '^'

  /** rpmvercmp over one EVR fragment (public rpm algorithm: maximal
    * all-digit / all-letter segments, separators skipped, digit beats
    * alpha at a type mismatch, more segments wins, `~` pre-release,
    * `^` post-release-snapshot).
    */
  private[functions] def cmpFragment(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length || j < b.length) {
      while (i < a.length && isSep(a(i))) i += 1
      while (j < b.length && isSep(b(j))) j += 1
      val aT = i < a.length && a(i) == '~'
      val bT = j < b.length && b(j) == '~'
      if (aT || bT) {
        if (aT && bT) { i += 1; j += 1 }
        else return if (aT) -1 else 1
      } else {
        val aC = i < a.length && a(i) == '^'
        val bC = j < b.length && b(j) == '^'
        if (aC || bC) {
          if (aC && bC) { i += 1; j += 1 }
          else if (aC) return (if (j >= b.length) 1 else -1)
          else return (if (i >= a.length) -1 else 1)
        } else {
          if (i >= a.length || j >= b.length)
            return Integer.compare(a.length - i, b.length - j).sign
          val digitSeg = a(i).isDigit
          if (digitSeg != b(j).isDigit) return if (digitSeg) 1 else -1
          if (digitSeg) {
            var si = i; while (i < a.length && a(i).isDigit) i += 1
            var sj = j; while (j < b.length && b(j).isDigit) j += 1
            while (si < i && a(si) == '0') si += 1
            while (sj < j && b(sj) == '0') sj += 1
            val la = i - si
            val lb = j - sj
            if (la != lb) return Integer.compare(la, lb)
            val c = a.substring(si, i).compareTo(b.substring(sj, j))
            if (c != 0) return Integer.signum(c)
          } else {
            val si = i; while (i < a.length && a(i).isLetter) i += 1
            val sj = j; while (j < b.length && b(j).isLetter) j += 1
            val c = a.substring(si, i).compareTo(b.substring(sj, j))
            if (c != 0) return Integer.signum(c)
          }
        }
      }
    }
    0
  }

  def compare(a: String, b: String): Int = {
    val (ea, ua, ra) = VersionOrder.split(a)
    val (eb, ub, rb) = VersionOrder.split(b)
    val ce = java.lang.Long.compare(ea, eb)
    if (ce != 0) return Integer.signum(ce)
    val cu = cmpFragment(ua, ub)
    if (cu != 0) return cu
    cmpFragment(ra, rb)
  }

  /** Key bytes per token, ordered `'!'`(~) < `'#'`(fragment end) < `'%'`(^)
    * < `'+'`+alpha-seg < zero-padded digit-seg — exactly the rpm ordering
    * at every decision point. Separators emit nothing (they only break
    * segments in rpm).
    */
  private def encFragment(sb: java.lang.StringBuilder, f: String): Unit = {
    var i = 0
    while (i < f.length) {
      val c = f(i)
      if (isSep(c)) i += 1
      else if (c == '~') { sb.append('!'); i += 1 }
      else if (c == '^') { sb.append('%'); i += 1 }
      else if (c.isDigit) {
        var s = i; while (i < f.length && f(i).isDigit) i += 1
        while (s < i && f(s) == '0') s += 1
        val digits = f.substring(s, i)
        var pad = 18 - digits.length
        while (pad > 0) { sb.append('0'); pad -= 1 }
        sb.append(digits)
      } else {
        sb.append('+')
        while (i < f.length && f(i).isLetter) { sb.append(f(i)); i += 1 }
      }
    }
    sb.append('#')
  }

  def sortKey(v: String): String = {
    val (epoch, upstream, revision) = VersionOrder.split(v)
    val sb = new java.lang.StringBuilder(v.length * 2 + 40)
    val e = epoch.toString
    var pad = 18 - e.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(e)
    encFragment(sb, upstream)
    encFragment(sb, revision)
    sb.toString
  }
}

/** Alpine apk ordering: `digits(.digits)* letter? (_suffix digits?)* (-rN)?`
  * with suffix precedence alpha < beta < pre < rc < (none) < cvs < svn <
  * git < hg < p (unknown suffixes sort last). Simplifications vs apk's
  * version.c, documented: numeric components always compare numerically
  * (apk's leading-zero fractional quirk is not reproduced) and an
  * unparseable tail is ignored.
  */
object ApkVersion {
  private val SuffixRank = Map(
    "alpha" -> 0, "beta" -> 1, "pre" -> 2, "rc" -> 3,
    "cvs" -> 5, "svn" -> 6, "git" -> 7, "hg" -> 8, "p" -> 9)
  private val NoneRank = 4

  private[functions] case class Parsed(
      nums: List[String], letter: Char, sufs: List[(Int, String)], rev: String)

  private[functions] def parse(v: String): Parsed = {
    var i = 0
    val nums = List.newBuilder[String]
    // numeric dot components
    var reading = true
    while (reading && i < v.length && v(i).isDigit) {
      val s = i
      while (i < v.length && v(i).isDigit) i += 1
      nums += v.substring(s, i)
      if (i < v.length && v(i) == '.' && i + 1 < v.length && v(i + 1).isDigit) i += 1
      else reading = false
    }
    val letter = if (i < v.length && v(i).isLetter) { val c = v(i); i += 1; c } else ' '
    val sufs = List.newBuilder[(Int, String)]
    while (i < v.length && v(i) == '_') {
      i += 1
      val s = i
      while (i < v.length && v(i).isLetter) i += 1
      val word = v.substring(s, i)
      val ns = i
      while (i < v.length && v(i).isDigit) i += 1
      sufs += ((SuffixRank.getOrElse(word, 10), v.substring(ns, i)))
    }
    var rev = ""
    val r = v.indexOf("-r", i)
    if (r >= 0 && v.drop(r + 2).nonEmpty && v.drop(r + 2).forall(_.isDigit))
      rev = v.substring(r + 2)
    Parsed(nums.result(), letter, sufs.result(), rev)
  }

  private def cmpNum(a: String, b: String): Int = {
    val sa = a.dropWhile(_ == '0')
    val sb = b.dropWhile(_ == '0')
    if (sa.length != sb.length) Integer.compare(sa.length, sb.length)
    else Integer.signum(sa.compareTo(sb))
  }

  def compare(av: String, bv: String): Int = {
    val a = parse(av)
    val b = parse(bv)
    val an = a.nums
    val bn = b.nums
    var i = 0
    while (i < an.length && i < bn.length) {
      val c = cmpNum(an(i), bn(i))
      if (c != 0) return c
      i += 1
    }
    // more numeric components wins over letter/suffix presence
    if (an.length != bn.length) return Integer.compare(an.length, bn.length)
    if (a.letter != b.letter) return Character.compare(a.letter, b.letter)
    // suffix lists, shorter side padded with the (none) rank
    var k = 0
    while (k < a.sufs.length || k < b.sufs.length) {
      val (ra, na) = if (k < a.sufs.length) a.sufs(k) else (NoneRank, "")
      val (rb, nb) = if (k < b.sufs.length) b.sufs(k) else (NoneRank, "")
      if (ra != rb) return Integer.compare(ra, rb)
      val c = cmpNum(na, nb)
      if (c != 0) return c
      k += 1
    }
    cmpNum(a.rev, b.rev)
  }

  private def pad18(sb: java.lang.StringBuilder, digits: String): Unit = {
    val d = digits.dropWhile(_ == '0')
    var pad = 18 - d.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(d)
  }

  /** Sections in fixed order: nums (each pad18) + '#', letter (space when
    * absent: 0x20 < any letter), suffixes (rank char + pad18 num) closed
    * by the (none) rank, rev pad18. '#' (0x23) < '0' makes
    * fewer-components sort first; rank chars ('0'+r, ≤ ':') < letters.
    */
  def sortKey(v: String): String = {
    val p = parse(v)
    val sb = new java.lang.StringBuilder(v.length + 64)
    p.nums.foreach(pad18(sb, _))
    sb.append('#')
    sb.append(p.letter)
    p.sufs.foreach { case (r, n) => sb.append(('0' + r).toChar); pad18(sb, n) }
    sb.append(('0' + NoneRank).toChar); pad18(sb, "")
    pad18(sb, p.rev)
    sb.toString
  }
}

/** Ecosystem dispatch for version_compare / version_sort_key. */
object EcoVersion {
  val Known: Set[String] = Set("deb", "rpm", "apk")

  def compare(a: String, b: String, eco: String): Int = eco match {
    case "rpm" => RpmVersion.compare(a, b)
    case "apk" => ApkVersion.compare(a, b)
    case _     => VersionOrder.compare(a, b)
  }

  def sortKey(v: String, eco: String): String = eco match {
    case "rpm" => RpmVersion.sortKey(v)
    case "apk" => ApkVersion.sortKey(v)
    case _     => VersionOrder.sortKey(v)
  }
}
