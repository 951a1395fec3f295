package graft

/** Per-run throwaway warehouse dirs for the main programs (Verify and
  * ScaleSmoke). Each run gets an empty dir under java.io.tmpdir,
  * deleted on JVM exit — session state can no longer leak between
  * runs or between mains through cwd's spark-warehouse.
  * SPARK_GRAFT_WAREHOUSE overrides (local debugging of artifacts).
  */
object BenchWarehouse {
  def freshDir(tag: String): String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", {
      val p = java.nio.file.Files.createTempDirectory(s"graft_wh_${tag}_")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(p.toFile)
      }
      p.toString
    })
}
