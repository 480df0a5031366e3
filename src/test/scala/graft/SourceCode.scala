package graft

/** Comment stripping for the specs that scan `src/main` as text. */
object SourceCode {

  /** The line with any `//` comment cut off; blank for a line inside a
    * block or doc comment.
    */
  def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match {
      case -1 => t
      case i => t.take(i)
    }
  }
}
