package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** [[TextOps.md5Long60Jvm]] shifts the top 60 digest bits in straight
  * from the bytes. Its definition is "the first 15 hex digits of the
  * md5, read as a number" — the formula DuckDB's oracle SQL and the
  * engine expression use — so it is pinned bit-for-bit against that
  * hex formula on every token class the embedders and salts hash. */
class Md5Long60Spec extends AnyFunSuite {

  private def hexFormula(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
  }

  private def tokens(alphabet: IndexedSeq[String], n: Int,
      seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(12))(
      alphabet(rnd.nextInt(alphabet.size))).mkString)
  }

  private val ascii = (32 to 126).map(_.toChar.toString)
  // precomposed Vietnamese letters (NFC), as the catalog text carries
  private val vietnamese = "aăâbcdđeêghiklmnoôơpqrstuưvxyàảãáạằẳẵắặầẩẫấậ" +
    "èẻẽéẹềểễếệìỉĩíịòỏõóọồổỗốộờởỡớợùủũúụừửữứựỳỷỹýỵĐƯƠ"
  // base letters followed by combining diacritics (NFD text)
  private val combining = ascii.take(60) ++
    (0x300 to 0x36f).map(c => "e" + c.toChar)

  test("equals the 15-hex-digit formula on ascii, Vietnamese, " +
      "combining-mark and empty tokens") {
    val edge = Seq("", " ", "0", "a", "\u0000", "\uffff", "😀", "\ud800",
      "x" * 1000)
    val all = edge ++ tokens(ascii, 20000, 1L) ++
      tokens(vietnamese.map(_.toString), 20000, 2L) ++
      tokens(combining, 20000, 3L) ++ (0 until 5000).map(_.toString)
    val bad = all.filter(t => TextOps.md5Long60Jvm(t) != hexFormula(t))
    assert(bad.isEmpty, bad.take(5).map(t => t.map(_.toInt)))
  }
}
