package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.Tables

/** Process-lifetime cache of staged stream-input trees (r12 verdict
  * task 4). Staging is verification plumbing — a Spark write plus
  * file copies of the source table, a pure function of (query,
  * source dir) within one JVM — yet it used to run PER INVOCATION,
  * so the bench's second rep (and every spec re-run) re-measured
  * `Files.copy`, not micro-batch execution: ~100 s of the r12
  * bench's 617 s total was repeated staging I/O. Each tree is now
  * built once per (query, dir) per process and REUSED; what must
  * stay per-invocation — the checkpoint and the sink — lives in the
  * run's own scratch tree ([[StreamingQueries]]' run scope), so every
  * invocation re-executes the full micro-batch replay from offset zero
  * against identical input files with identical modification times
  * (FileStreamSource admits oldest-first, so batch order is
  * reproducible). Trees are deleted once, at JVM exit.
  */
private[graft] object StagedInputs {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    cache.values.forEach(p => Tables.deleteRecursively(p))))

  /** Cheap content fingerprint of the source tables under `srcDir`
    * — (relative path, size, mtime) of every regular file, hashed.
    * Folded into the cache key so an IN-PROCESS regeneration of a
    * source table invalidates the staged tree instead of silently
    * replaying stale inputs against a batch oracle computed over the
    * new data (r13 ADVICE). Listing a testdata dir is a few dozen
    * stat calls — noise next to the staging write it guards.
    */
  private def fingerprint(srcDir: String): String = {
    val root = java.nio.file.Paths.get(srcDir)
    if (!Files.exists(root)) "absent"
    else {
      val s = Files.walk(root)
      try {
        // nanosecond mtime, not millis: a same-size rewrite landing
        // within the same millisecond must still change the
        // fingerprint where the filesystem can tell them apart
        // (r14 ADVICE; ext4 stores ns timestamps)
        val items = s.filter(p => Files.isRegularFile(p))
          .map[String](p => s"${root.relativize(p)}:${Files.size(p)}:" +
            s"${Files.getLastModifiedTime(p)
              .to(java.util.concurrent.TimeUnit.NANOSECONDS)}")
          .sorted().toArray.mkString("\n")
        java.util.UUID.nameUUIDFromBytes(
          items.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
      } finally s.close()
    }
  }

  /** The cached tree for (query, srcDir, content-of-srcDir), built on
    * first use. A failed build is rolled back and rethrown, never
    * cached. Entries for SUPERSEDED fingerprints of the same
    * (query, srcDir) are evicted — and their trees deleted — as soon
    * as a new fingerprint is requested: an in-process regeneration
    * loop must not accumulate one orphaned temp tree per rewrite
    * until JVM exit (r14 ADVICE).
    */
  def dir(query: String, srcDir: String)(build: Path => Unit): Path = {
    val prefix = s"$query|$srcDir|"
    val key = prefix + fingerprint(srcDir)
    val it = cache.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k != key && k.startsWith(prefix))
        Option(cache.remove(k)).foreach(Tables.deleteRecursively)
    }
    cache.computeIfAbsent(key, _ => {
      val d = Files.createTempDirectory("graft_staged_")
      try build(d)
      catch { case e: Throwable => Tables.deleteRecursively(d); throw e }
      d
    })
  }

  /** Write `df` as ONE parquet file named `name` inside `inputDir`,
    * with a controlled modification time — FileStreamSource admits
    * files oldest-mod-time-first, so ascending `modMs` pins the
    * micro-batch order. An empty df may legitimately produce no part
    * file (nothing to stage → one fewer batch, same results).
    */
  def stageOne(df: DataFrame, inputDir: Path, name: String, modMs: Long): Unit = {
    val scratch = Files.createTempDirectory("graft_stage_scratch_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).iterator().asScala
        .find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
      part.foreach { p =>
        val dest = inputDir.resolve(name)
        Files.copy(p, dest)
        dest.toFile.setLastModified(modMs)
      }
    } finally Tables.deleteRecursively(scratch)
  }
}
