package perfbench

/** A hash of an executed plan that is the same on every run of the same
  * code: expression ids, the run root, memory-sink and cache-scope counters
  * and other per-run numbering are blanked before hashing. A key whose time
  * moved while this hash stayed put ran the same plan, so the move is the
  * host's, not the code's.
  */
object PlanHash {
  private val rules = Seq(
    "#\\d+L?" -> "#",
    "_sink_\\d+" -> "_sink_",
    "__cache_scope_nonce[^,\\]\\)]*" -> "__cache_scope_nonce",
    "(?i)\\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\\b" -> "<uuid>",
    "\\b[0-9a-f]{12,}\\b" -> "<hex>",
    "id=\\d+" -> "id=")

  private def normalize(plan: String, root: String): String =
    rules.foldLeft(plan.replace(root, "<root>")) { case (p, (re, to)) => p.replaceAll(re, to) }

  def apply(plan: String, root: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(normalize(plan, root).getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
