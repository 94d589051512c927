package graft

/** An independent statement of the text embedding, for tests: the text
  * splits at every single space (empty words kept); each word's bucket
  * is the first 15 hex digits of the md5 of its UTF-8 bytes, read as a
  * long, mod `dim`; the weights are per-bucket word counts divided by
  * √Σc². Plain loops over strings, sharing no code with `src/main`. */
object HashEmbedRef {

  def words(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == ' ') { out += text.substring(start, i); start = i + 1 }
      i += 1
    }
    out += text.substring(start)
    out.toSeq
  }

  def bucket(word: String, dim: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(word.getBytes("UTF-8"))
    val hex = digest.map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % dim).toInt
  }

  def embed(text: String, dim: Int): Seq[Double] = {
    val counts = new Array[Long](dim)
    for (w <- words(text)) counts(bucket(w, dim)) += 1
    val norm = math.sqrt(counts.map(c => c * c).sum.toDouble)
    counts.map(c => c / norm).toSeq
  }
}
