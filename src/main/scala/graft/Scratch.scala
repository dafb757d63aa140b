package graft

/** Scratch-directory policy for ephemeral per-query artifacts (streaming
  * file-source inputs, streaming checkpoints, throwaway index dirs).
  *
  * Same medium policy as Bench's `spark.local.dir` choice: prefer tmpfs
  * (`/dev/shm`) when present — it models a cluster's NVMe-local scratch,
  * while the sandbox's `/tmp` sits on a virtio disk whose per-file fsync
  * dominates micro-batch latency (a stateful AvailableNow query commits
  * offset/commit logs plus one state-store delta per shuffle partition per
  * batch — hundreds of small synced files). Overridable via
  * `SPARK_GRAFT_SCRATCH` to A/B the medium, exactly like
  * `SPARK_GRAFT_LOCAL_DIR` for the shuffle dirs. On a real cluster the
  * checkpoint location must be durable shared storage — this helper is for
  * the engine's ephemeral dev/bench artifacts only, never for production
  * checkpoints (see StreamingExtract.run, which takes the caller's path).
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

  /** A fresh scratch directory with the given name prefix. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(base.toPath, prefix).toString
}
