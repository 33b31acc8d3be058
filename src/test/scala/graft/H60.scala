package graft

/** Independent Scala replay of the engine's 60-bit md5 hash
  * (`graft.queries.Corpus.h60Spark` / `h60Duck`): the first 15 hex
  * digits of the UTF-8 md5 digest, read as a Long. Built on
  * `java.security.MessageDigest` alone, so a spec that compares the
  * engine's hash with it checks the recipe rather than a copy of it.
  */
object H60 {
  def apply(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** The id form (`Corpus.idHash60Spark`): the hash of the decimal text. */
  def id(id: Long): Long = apply(id.toString)
}
