package graft.core

/** Thread-scaling probe for the library core, no Spark: each thread builds
  * independent shard sketches (generate fingerprints -> radix sort ->
  * canonical single-pass construction via [[BackpackFilter.fromEntries]]),
  * which is exactly the reduce-side work of the sharded index build. This
  * separates what the LIBRARY scales (shard builds are embarrassingly
  * parallel) from what Spark local-mode machinery and the time-shared host
  * add on top — on a real cluster each executor brings its own memory and
  * shuffle service, so the per-executor picture is this probe, not the
  * single-box thread curve.
  *
  * args: threads shardsTotal entriesPerShard
  */
object CoreScale {
  def main(args: Array[String]): Unit = {
    val threads = if (args.length > 0) args(0).toInt else 16
    val shardsTotal = if (args.length > 1) args(1).toInt else 128
    val perShard = if (args.length > 2) args(2).toInt else 1200000
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        var shard = next.getAndIncrement()
        while (shard < shardsTotal) {
          val fps = new Array[Long](perShard)
          var i = 0
          var x = shard * 0x9E3779B97F4A7C15L
          while (i < perShard) {
            x = Fingerprint.splitmix64(x)
            fps(i) = x & ((1L << 48) - 1)
            i += 1
          }
          // counts == null: the all-ones keys-only bulk build — the exact
          // path the sharded index's reduce tasks run since r8
          val f = BackpackFilter.fromEntries(7, 8, 48, CountMode.Exact, 8, 2, 0L,
            fps, null, perShard)
          if (f.distinctCount <= 0) throw new IllegalStateException("empty shard")
          shard = next.getAndIncrement()
        }
      })
    }
    // a worker dying (e.g. OOM) must fail the PROBE, not just its thread:
    // join() returns normally either way, and a result line from a run that
    // did less work would silently poison the scaling series
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    pool.foreach(_.setUncaughtExceptionHandler((_, e) => {
      e.printStackTrace(); failed.set(true)
    }))
    pool.foreach(_.start())
    pool.foreach(_.join())
    if (failed.get()) {
      System.err.println("CoreScale: worker thread failed; no result emitted")
      sys.exit(1)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val total = shardsTotal.toLong * perShard
    println(s"""{"sec":$sec,"entries":$total,"entries_per_sec":${(total / sec).toLong},"threads":$threads,"mode":"core"}""")
  }
}
