package graft

import java.nio.file.{Files, Path}

/** Scratch-directory policy for ephemeral per-query artifacts (streaming
  * file-source inputs, streaming checkpoints, throwaway index dirs) and, under
  * a local master, the shuffle dirs ([[SparkEnv.session]] sets
  * `spark.local.dir` to [[base]]).
  *
  * Prefer tmpfs (`/dev/shm`) when present — it models a cluster's NVMe-local
  * scratch, while the sandbox's `/tmp` sits on a virtio disk whose per-file
  * fsync dominates micro-batch latency (a stateful AvailableNow query commits
  * offset/commit logs plus one state-store delta per shuffle partition per
  * batch — hundreds of small synced files). `SPARK_GRAFT_SCRATCH` moves both
  * scratch and shuffle dirs to A/B the medium; Spark's own
  * `SPARK_LOCAL_DIRS` moves the shuffle dirs alone. On a real cluster the
  * checkpoint location must be durable shared storage — this helper is for
  * the engine's ephemeral dev/bench artifacts only, never for production
  * checkpoints (see StreamingExtract.run, which takes the caller's path).
  * Every [[dir]] is deleted at JVM exit, so tmpfs (RAM) does not fill up
  * over repeated runs.
  */
object Scratch {
  private[graft] lazy val base: java.io.File = {
    val b = sys.env.get("SPARK_GRAFT_SCRATCH").map(new java.io.File(_)).getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) new java.io.File(shm, "graft-scratch")
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    }
    b.mkdirs()
    b
  }

  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Registered with the first [[dir]], so a JVM that makes none adds no hook. */
  private lazy val cleanupHook = sys.addShutdownHook(deleteCreated(_ => true))

  /** A fresh scratch directory with the given name prefix, deleted at JVM exit. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(base.toPath, prefix)
    created.add(d)
    cleanupHook
    d.toString
  }

  /** The shutdown hook's cleanup (which selects them all): recursively
    * deletes each directory [[dir]] has made, not yet deleted, and `only`
    * selects. Never [[base]] itself, which holds Spark's `spark.local.dir`.
    * Best effort per directory: one that cannot be walked or emptied is left
    * and the rest are still deleted.
    */
  private[graft] def deleteCreated(only: Path => Boolean): Unit = created.forEach { d =>
    if (only(d) && created.remove(d)) try {
      val paths = Files.walk(d)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
  }
}
