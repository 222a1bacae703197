package graft.llm

/** Executor-local LM response cache, the port of the reference's response
  * cache keyed on (model, messages, kwargs) (lotus/models/lm.py:182-236,
  * 453-456; lotus/cache.py:103-200).
  *
  * One JVM-global LRU per executor: a Spark task retry or speculative copy
  * re-issuing the same prompts on the same executor gets byte-identical
  * answers with zero physical calls — the replay-determinism story for
  * nondeterministic (temperature>0) providers. Cross-run reuse within a JVM
  * (driver local mode, long-lived executors) comes free.
  */
object ResponseCache {

  @volatile var maxEntries: Int = 100000

  private val map = new java.util.LinkedHashMap[String, LMResult](1024, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, LMResult]): Boolean =
      this.size() > maxEntries
  }

  def get(k: String): Option[LMResult] = map.synchronized(Option(map.get(k)))
  def put(k: String, v: LMResult): Unit = map.synchronized { map.put(k, v); () }
  def clear(): Unit = map.synchronized(map.clear())
  def size: Int = map.synchronized(map.size())

  /** Cache key: SHA-256 over the full client config (model + params — case
    * class toString is deterministic) and the complete request content,
    * mirroring the reference's hash of (model, messages, kwargs).
    */
  def key(lmConfig: String, req: LMRequest): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lmConfig.getBytes("UTF-8"))
    req.messages.foreach { m =>
      md.update(0.toByte); md.update(m.role.getBytes("UTF-8"))
      md.update(1.toByte); md.update(m.content.getBytes("UTF-8"))
    }
    req.images.toSeq.sortBy(_._1).foreach { case (n, v) =>
      md.update(2.toByte); md.update(n.getBytes("UTF-8")); md.update(v.getBytes("UTF-8"))
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }
}
