package graft

/** Does a lake MERGE cost the DELTA SPAN or the TABLE? The scale
  * claim behind [[graft.sources.LakeVersions.mergeInto]] is that a
  * CDC batch into a key-sorted lake rewrites (and even READS) only
  * the files whose envelopes its key range spans: the probe scan is
  * pre-bounded by the source's key envelope, the manifest prunes the
  * rest, and untouched files carry by reference. This probe builds
  * sorted lakes of growing file counts with a FIXED delta and
  * measures the merge wall plus the rewritten/carried split — flat
  * wall and a constant rewrite count as files grow is the claim,
  * measured. A second leg times [[LakeVersions.appendsBetween]] on
  * the same lakes: incremental consumption must read the added files
  * alone, so its wall must track the DELTA, not the table. The base
  * commit's own wall is printed too: it records footer stats for every
  * landed file, so it is the many-file commit path at 16-1,024 files.
  *
  * {{{ sbt "runMain graft.LakeMergeProbe" }}}
  */
object LakeMergeProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(cores = 8, appName = "graft-lake-merge-probe")
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val rowsPerFile = 4000
      Seq(16, 64, 256, 1024).foreach { nFiles =>
        val root = java.nio.file.Files.createTempDirectory("graft-lake-merge")
        val dir = root.toString + "/table"
        val n = nFiles * rowsPerFile
        // one commit, range-partitioned into nFiles sorted files with
        // tight disjoint envelopes — the layout a sorted rewrite makes
        val base = spark.range(0, n.toLong)
          .select(col("id").as("k"),
            concat(lit("row"), col("id")).as("t"))
          .repartitionByRange(nFiles, col("k"))
          .sortWithinPartitions("k")
        val c = System.nanoTime()
        graft.sources.LakeVersions.commit(spark, dir, base,
          statsCols = Seq("k")): Unit
        val commitMs = (System.nanoTime() - c) / 1e6
        // FIXED delta: one file's key span replaced + 1000 fresh
        // inserts past the max — independent of nFiles
        val lo = (nFiles / 2) * rowsPerFile
        val source = spark.range(lo.toLong, (lo + rowsPerFile).toLong)
          .select(col("id").as("k"), lit("upd").as("t"))
          .union(spark.range(n.toLong, n.toLong + 1000)
            .select(col("id").as("k"), lit("new").as("t")))
        val a = System.nanoTime()
        val (_, rewritten, carried) =
          graft.sources.LakeVersions.mergeInto(spark, dir, source, Seq("k"))
        val mergeMs = (System.nanoTime() - a) / 1e6
        // incremental read of what the merge added (v1 -> v2 is NOT
        // append-only, so append one more slice and consume v2 -> v3)
        graft.sources.LakeVersions.commit(spark, dir,
          spark.range(n + 1000L, n + 2000L)
            .select(col("id").as("k"), lit("tail").as("t")).coalesce(1),
          statsCols = Seq("k")): Unit
        val b = System.nanoTime()
        val incr = graft.sources.LakeVersions
          .appendsBetween(spark, dir, 2L, 3L).count()
        val incrMs = (System.nanoTime() - b) / 1e6
        require(incr == 1000L, s"incremental read saw $incr rows")
        println(f"[lake-merge] files=$nFiles%4d rows=$n%8d  " +
          f"commit=$commitMs%8.1f ms  " +
          f"merge=$mergeMs%8.1f ms  rewritten=$rewritten%2d " +
          f"carried=$carried%4d  incr(1k rows)=$incrMs%7.1f ms")
        org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile): Unit
      }
    } finally spark.stop()
  }
}
