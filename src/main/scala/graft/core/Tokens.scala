package graft.core

/** The whitespace tokeniser every text operator shares: split on single
  * spaces and drop the empty tokens, in text order; a null text has no
  * words. A plain object, so Dataset closures call it without capturing
  * an operator module. */
object Tokens {
  def words(text: String): Array[String] =
    (if (text == null) "" else text).split(" ").filter(_.nonEmpty)
}
