package graft.perfbench

/** Pinned facts per (workload, seed), derived once and checked on every run
  * with that seed. The file holds one line per fact:
  * `workload seed key value`.
  */
object Golden {
  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def load(text: String): Map[(String, Long), Map[String, String]] =
    text.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(w, s, k, v) => ((w, s.toLong), k -> v) }
      .toSeq.groupBy(_._1).map { case (ws, kvs) => ws -> kvs.map(_._2).toMap }

  /** Mismatches between the pinned facts and the actual ones. A pinned key
    * missing from `actual` is a mismatch; extra actual keys are not.
    */
  def check(pinned: Map[String, String], actual: Map[String, String]): Seq[String] =
    pinned.toSeq.sortBy(_._1).collect {
      case (k, v) if !actual.get(k).contains(v) =>
        s"golden $k: expected $v, got ${actual.getOrElse(k, "nothing")}"
    }
}
