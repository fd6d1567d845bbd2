package graft.util

/** Locale-safe JSON number rendering for machine-parsed artifacts
  * (`bench_out.json`, the ScaleProbe M-sweep lines). Both forms exist on
  * purpose and both are locale-independent — the bug class they prevent
  * is an `f"$x%.2f"` interpolation emitting `0,50` under a comma-decimal
  * default locale, which breaks the JSON parser downstream.
  */
object JsonNum {
  /** Fixed-dp form (`"0.50"`) — probe lines and SCALING tables, where a
    * constant column width keeps the tables diff-able.
    */
  def fixed(d: Double, dp: Int = 2): String =
    String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(d))

  /** Minimal 3-dp form (`"0.5"`) — bench artifact values.
    * `Double.toString` is locale-independent by spec; round-then-toString
    * keeps the committed artifact byte-stable across runs of equal value.
    */
  def minimal3(d: Double): String = (math.round(d * 1000) / 1000.0).toString
}

/** Local-filesystem helpers shared by the entry point, the probes and the
  * specs (cleanup of local temporary directories only — store-side deletes
  * go through the Hadoop FileSystem API with checked results, see
  * `ConditionsTable.compact` and `CaggStream.migrateLegacyFlatStore`).
  */
object FsUtil {
  def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }
}

/** Small shared helpers. */
object Util {
  /** Per-JVM root of the correlation-id generator, seeded once from
    * `SecureRandom` so executor JVMs never share a (time-derived) seed.
    */
  private val root = new java.util.SplittableRandom(new java.security.SecureRandom().nextLong())

  /** Each thread splits its own generator off the root once (the only
    * locked step); every draw after that is thread-confined.
    */
  private val local = ThreadLocal.withInitial[java.util.SplittableRandom](
    () => root.synchronized(root.split()))

  /** A random version-4 UUID string — the correlation-id generator for
    * the ingest hot path. `java.util.UUID.randomUUID` draws from the
    * JVM's global `SecureRandom`, whose internal lock serializes every
    * converter task on the executor (one draw PER EVENT across all
    * cores); correlation ids need uniqueness, not cryptographic
    * strength, so a thread-local `SplittableRandom` with the standard v4
    * variant/version bits keeps the same wire format without the
    * contention.
    */
  def fastRandomUuid(): String = {
    val r = local.get()
    val msb = (r.nextLong() & 0xffffffffffff0fffL) | 0x0000000000004000L
    val lsb = (r.nextLong() & 0x3fffffffffffffffL) | 0x8000000000000000L
    new java.util.UUID(msb, lsb).toString
  }
}
