package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeVersions

/** Versioned lake commits (table format lite): manifest-pinned reads,
  * append/overwrite commit semantics, lock serialization, time-travel
  * diff, and retention. */
class LakeVersionsSpec extends AnyFunSuite with SparkFixture {

  private def lake(): String =
    Files.createTempDirectory("graft-lakev").toString + "/table"

  test("commit/read: append composes, overwrite replaces, readers pin versions") {
    val s = spark
    import s.implicits._
    val dir = lake()
    assert(LakeVersions.latestVersion(s, dir) == 0L)
    intercept[IllegalArgumentException](LakeVersions.read(s, dir))

    val v1 = LakeVersions.commit(s, dir, Seq((1, "a"), (2, "b")).toDF("k", "t"))
    val v2 = LakeVersions.commit(s, dir, Seq((3, "c")).toDF("k", "t"))
    val v3 = LakeVersions.commit(s, dir, Seq((9, "z")).toDF("k", "t"),
      overwrite = true)
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(LakeVersions.latestVersion(s, dir) == 3L)

    def keys(v: Long) = LakeVersions.read(s, dir, Some(v))
      .select("k").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys(1) == Seq(1, 2))
    assert(keys(2) == Seq(1, 2, 3), "append must reference v1's files too")
    assert(keys(3) == Seq(9), "overwrite must reference only its own files")
    // latest == v3; pinned reads survive later commits untouched
    assert(LakeVersions.read(s, dir).select("k")
      .collect().map(_.getInt(0)).toSeq == Seq(9))

    val ledger = LakeVersions.versions(s, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._1)
    assert(ledger.map(_._1) == Seq(1L, 2L, 3L))
    assert(ledger(1)._2 > ledger(0)._2, "v2 references more files than v1")
  }

  test("time-travel diff rides snapshotDiff; schema evolution merges across versions") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a"), (2, "b")).toDF("k", "t"))
    LakeVersions.commit(s, dir,
      Seq((2, "B"), (3, "c")).toDF("k", "t"), overwrite = true)
    val d = LakeVersions.diff(s, dir, 1L, 2L, Seq("k"))
      .select("k", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(d == Seq((1, "removed"), (2, "changed"), (3, "added")), d.toString)
    // a commit with an extra column merges losslessly on read
    LakeVersions.commit(s, dir, Seq((4, "d", 7.5)).toDF("k", "t", "score"))
    val merged = LakeVersions.read(s, dir)
    assert(merged.schema.fieldNames.sorted.toSeq == Seq("k", "score", "t"))
    assert(merged.filter("k = 2").select("score").collect().head.isNullAt(0))
    // an INCOMPATIBLE append (re-typed column) fails AT THE WRITE with
    // the same merge the read would run — no version lands, and the
    // table stays readable instead of every later read throwing
    val before = LakeVersions.latestVersion(s, dir)
    val e = intercept[IllegalArgumentException] {
      LakeVersions.commit(s, dir, Seq(("oops", "x")).toDF("k", "t"))
    }
    assert(e.getMessage.contains("incompatible"), e.getMessage)
    assert(LakeVersions.latestVersion(s, dir) == before)
    assert(LakeVersions.read(s, dir).count() == merged.count())
  }

  test("a dead writer's stale LOCK is broken; vacuum sweeps old state") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a")).toDF("k", "t"))
    // a writer that died holding the lock: the next commit breaks it
    // once it is older than lockStaleMs instead of waiting forever
    val claims = new java.io.File(dir, "_graft_versions")
    val dead = new java.io.File(claims, "LOCK")
    assert(dead.createNewFile())
    assert(dead.setLastModified(System.currentTimeMillis() - 120000))
    val v = LakeVersions.commit(s, dir, Seq((2, "b")).toDF("k", "t"))
    assert(v == 2L)
    assert(!dead.exists(), "the breaking commit must release the lock")
    assert(LakeVersions.read(s, dir).count() == 2L)

    LakeVersions.commit(s, dir, Seq((3, "c")).toDF("k", "t"), overwrite = true)
    // age everything so retention applies, then vacuum keeping 1
    (new java.io.File(dir).listFiles() ++ claims.listFiles()).foreach { f =>
      if (f.isFile) assert(f.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    }
    val removed = LakeVersions.vacuum(s, dir, keepVersions = 1)
    assert(removed > 0)
    // latest still reads; vacuumed versions fail loudly
    assert(LakeVersions.read(s, dir).count() == 1L)
    val e = intercept[IllegalArgumentException](LakeVersions.read(s, dir, Some(1L)))
    assert(e.getMessage.contains("vacuumed"))
    // every surviving data file is referenced by the kept manifest
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("data-")).map(_.getName).toSet
    val kept = LakeVersions.versions(s, dir).collect().map(_.getLong(0)).toSeq
    assert(kept.size == 1)
    assert(dataFiles.nonEmpty)
    assert(LakeVersions.read(s, dir).inputFiles.map(
      p => p.substring(p.lastIndexOf('/') + 1)).toSet == dataFiles)
  }

  test("an empty committed version (full purge) keeps the table schema") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a")).toDF("k", "t"))
    val df = Seq.empty[(Int, String)].toDF("k", "t")
    val v = LakeVersions.commit(s, dir, df, overwrite = true)
    val purged = LakeVersions.read(s, dir, Some(v))
    assert(purged.schema.fieldNames.toSeq == Seq("k", "t"),
      "a purge must read with the table's shape, not a zero-column frame")
    assert(purged.count() == 0L)
    // diffs across the purge still resolve their key columns
    val d = LakeVersions.diff(s, dir, 1L, v, Seq("k")).collect()
    assert(d.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "removed")))
  }

  test("partitioned commits: appends inherit the layout; partition columns " +
      "come back typed and prune at planning") {
    val s = spark
    import s.implicits._
    val dir = lake()
    // partition by a LONG column: hive path values are strings, so the
    // read must cast the discovered column back to the committed type
    LakeVersions.commit(s, dir,
      Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "t", "b"),
      partitionBy = Seq("b"))
    // append WITHOUT declaring the layout: inherited from the manifest
    LakeVersions.commit(s, dir, Seq((3, "c", 30L)).toDF("k", "t", "b"))
    // a conflicting explicit layout refuses
    val e = intercept[IllegalArgumentException] {
      LakeVersions.commit(s, dir,
        Seq((4, "d", 40L)).toDF("k", "t", "b"), partitionBy = Seq("t"))
    }
    assert(e.getMessage.contains("inherit"))

    val df = LakeVersions.read(s, dir)
    assert(df.schema("b").dataType == org.apache.spark.sql.types.LongType,
      "partition column must read back with its committed type")
    assert(df.schema.fieldNames.toSeq == Seq("k", "t", "b"),
      "partitioned reads keep the committed column order")
    assert(df.select("k", "b").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq ==
      Seq((1, 10L), (2, 20L), (3, 30L)))
    // the layout physically exists: data files live under b=<value>/
    assert(df.inputFiles.forall(_.contains("/b=")),
      df.inputFiles.mkString(", "))
    // and a partition predicate prunes at PLANNING — PartitionFilters,
    // not a data filter
    val q = df.filter($"b" === 20L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("b#"),
      plan.take(1200))
    assert(q.select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0)).toSeq
      .forall(_.contains("/b=20/")))
    // the scan's execution metric proves pruning happened at planning:
    // one file planned, not filtered-after-read (metrics populate on
    // THIS dataset's own execution)
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(2))
    val scan = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value == 1L,
      s"expected 1 planned file, got ${scan.metrics("numFiles").value}")
  }

  test("manifest stats: a point predicate on a sorted lake keeps 1 of 3 files; " +
      "the pruned read loses no rows") {
    val s = spark
    import s.implicits._
    val dir = lake()
    // three appends with tight disjoint k envelopes — the layout a
    // sorted rewrite produces
    LakeVersions.commit(s, dir,
      (1 to 100).map(i => (i, s"r$i")).toDF("k", "t").coalesce(1),
      statsCols = Seq("k"))
    LakeVersions.commit(s, dir,
      (101 to 200).map(i => (i, s"r$i")).toDF("k", "t").coalesce(1),
      statsCols = Seq("k"))
    LakeVersions.commit(s, dir,
      (201 to 300).map(i => (i, s"r$i")).toDF("k", "t").coalesce(1),
      statsCols = Seq("k"))
    val (kept, total) = LakeVersions.pruneCounts(s, dir, Seq(("k", 150L, 150L)))
    assert(total == 3 && kept == 1, s"expected 1/3 kept, got $kept/$total")
    // the pruning hint is sound: pruned read + real filter == full scan + filter
    val pruned = LakeVersions.readPruned(s, dir, Seq(("k", 120L, 220L)))
      .filter($"k".between(120, 220)).select("k")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(pruned == (120 to 220).toSeq)
    // rows ledger reflects the collected footer counts
    val ledger = LakeVersions.versions(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1).toSeq
    assert(ledger == Seq((1L, 100L), (2L, 200L), (3L, 300L)), ledger.toString)
    // a version with no collected stats prunes nothing (conservative)
    LakeVersions.commit(s, dir, Seq((500, "x")).toDF("k", "t"))
    val (kept2, total2) = LakeVersions.pruneCounts(s, dir, Seq(("k", 150L, 150L)))
    assert(total2 == 4 && kept2 == 2, "the stats-less file must be kept")
  }

  test("pruneFiles over a 200k-entry manifest: pure driver arithmetic, exact subset") {
    // the 100 TB shape: a table of 200k files prunes from the manifest
    // alone — no footer reads, no listing. Synthetic entries with
    // disjoint 1000-wide k envelopes under 40 hive partitions; a range
    // predicate + partition bound must keep exactly the provable set.
    val files = (0 until 200000).map { i =>
      graft.sources.LakeVersions.FileEntry(
        s"p=${i % 40}/data-u$i-part.parquet", 1L << 20, 1000L,
        Map("k" -> (i * 1000L, i * 1000L + 999L)))
    }
    val m = graft.sources.LakeVersions.ManifestState(
      org.apache.spark.sql.types.StructType(Nil), Seq("p"), "", files)
    val t0 = System.nanoTime()
    val kept = graft.sources.LakeVersions.pruneFiles(m,
      Seq(("k", 5_000_000L, 5_010_000L), ("p", 7L, 7L)))
    val ms = (System.nanoTime() - t0) / 1e6
    // k range spans entries 5000..5010 (11 files); of those, partition
    // p==7 keeps i % 40 == 7 → i == 5007 only
    assert(kept.map(_.relpath) == Seq("p=7/data-u5007-part.parquet"))
    // generous ceiling (measured ~100 ms): the point is O(files) driver
    // arithmetic, not a tight wall — a timing assert 50x above the
    // observed value only catches complexity regressions
    assert(ms < 5000.0, s"pruneFiles took $ms ms over 200k entries")
  }

  test("a pre-partitioning v1 manifest still reads") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a"), (2, "b")).toDF("k", "t"))
    // rewrite the manifest in the v1 format (magic + relpath \t len)
    val mf = new java.io.File(dir, "_graft_versions/v00000001.manifest")
    val lines = new String(
      java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n")
    val schemaJson = lines.head.split("\t")(1)
    val v1 = (s"graft-lake-manifest-v1\t$schemaJson" +:
      lines.tail.map(l => l.split("\t").take(2).mkString("\t"))).mkString("\n")
    java.nio.file.Files.write(mf.toPath,
      v1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the raw rewrite invalidates LocalFileSystem's checksum sidecar
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete(): Unit
    assert(LakeVersions.read(s, dir).select("k")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // and an append on top of it carries the v1 entries forward
    LakeVersions.commit(s, dir, Seq((3, "c")).toDF("k", "t"))
    assert(LakeVersions.read(s, dir).count() == 3L)
  }

  test("a promotion crash between data-land and manifest publish is invisible; " +
      "vacuum reclaims the orphans") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1, "a", 0L), (2, "b", 1L)).toDF("k", "t", "r"),
      partitionBy = Seq("r"))
    val before = LakeVersions.read(s, dir).select("k")
      .collect().map(_.getInt(0)).sorted.toSeq
    // simulate a promotion that died AFTER landing its data files but
    // BEFORE the manifest rename: orphaned uuid-named data files in a
    // partition dir plus an abandoned staging dir
    val root = new java.io.File(dir)
    val landedDir = new java.io.File(root, "r=0")
    val donor = landedDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(landedDir, "data-deadcrash-part-0.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    val staging = new java.io.File(root, "_graft_staging/deadcrash")
    assert(staging.mkdirs())
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(staging, "part-0.parquet").toPath)
    // readers see NOTHING: same version, same rows — the torn commit
    // is unobservable because reads never list the directory
    assert(LakeVersions.latestVersion(s, dir) == 1L)
    assert(LakeVersions.read(s, dir).select("k")
      .collect().map(_.getInt(0)).sorted.toSeq == before)
    // age the litter past the margin; vacuum removes exactly it
    assert(orphan.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(staging.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    val removed = LakeVersions.vacuum(s, dir, keepVersions = 2)
    assert(removed == 2, s"expected orphan file + staging dir, removed $removed")
    assert(!orphan.exists() && !staging.exists())
    assert(LakeVersions.read(s, dir).select("k")
      .collect().map(_.getInt(0)).sorted.toSeq == before,
      "vacuum must never touch referenced data")
  }

  test("streaming epoch commits are tag-idempotent: a replayed batch skips") {
    val s = spark
    import s.implicits._
    val dir = lake()
    val b0 = Seq((1, "a", 0L)).toDF("k", "t", "r")
    assert(graft.streaming.StreamingOps.commitEpochSide(
      dir, b0, Seq("r"), Seq("k"), "ns1-epoch-0"))
    assert(graft.streaming.StreamingOps.commitEpochSide(
      dir, Seq((2, "b", 1L)).toDF("k", "t", "r"), Seq("r"), Seq("k"),
      "ns1-epoch-1"))
    // crash-replay of the LAST batch: same tag on the latest version →
    // skipped, no duplicate rows, no extra version
    assert(!graft.streaming.StreamingOps.commitEpochSide(
      dir, Seq((2, "b", 1L)).toDF("k", "t", "r"), Seq("r"), Seq("k"),
      "ns1-epoch-1"))
    assert(LakeVersions.latestVersion(s, dir) == 2L)
    assert(LakeVersions.read(s, dir).count() == 2L)
    // a FRESH checkpoint's batch 0 (different namespace) is NOT fooled
    // by the old query's ordinals
    assert(graft.streaming.StreamingOps.commitEpochSide(
      dir, Seq((3, "c", 0L)).toDF("k", "t", "r"), Seq("r"), Seq("k"),
      "ns2-epoch-0"))
    assert(LakeVersions.read(s, dir).count() == 3L)
    val tags = LakeVersions.versions(s, dir).select("tag")
      .collect().map(_.getString(0)).toSeq
    assert(tags == Seq("ns1-epoch-0", "ns1-epoch-1", "ns2-epoch-0"))
    // a maintenance rewrite interleaving between an epoch commit and
    // its crash-replay must not unmask a duplicate: the replay test
    // scans PAST non-epoch tags, not just the latest version
    LakeVersions.compactCommit(s, dir): Unit
    assert(!graft.streaming.StreamingOps.commitEpochSide(
      dir, Seq((3, "c", 0L)).toDF("k", "t", "r"), Seq("r"), Seq("k"),
      "ns2-epoch-0"),
      "replay after interleaved compaction must still skip")
    assert(LakeVersions.read(s, dir).count() == 3L, "no duplicate rows")
    // ...and the namespace's NEXT epoch still commits
    assert(graft.streaming.StreamingOps.commitEpochSide(
      dir, Seq((4, "d", 1L)).toDF("k", "t", "r"), Seq("r"), Seq("k"),
      "ns2-epoch-1"))
    assert(LakeVersions.read(s, dir).count() == 4L)
  }

  test("a partition column starting with '_' lands, reads, and vacuums intact") {
    val s = spark
    import s.implicits._
    val dir = lake()
    // '_day' is a legal Spark column name; the staging walk and the
    // vacuum sweep must treat _day=… as a partition dir, not internal
    // litter — skipping it at land time would publish an EMPTY manifest
    // and delete the only copy of the data
    LakeVersions.commit(s, dir,
      Seq((1, 20260815L), (2, 20260816L)).toDF("k", "_day"),
      partitionBy = Seq("_day"))
    val df = LakeVersions.read(s, dir)
    assert(df.select("k").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(df.inputFiles.forall(_.contains("/_day=")))
    LakeVersions.commit(s, dir, Seq((3, 20260817L)).toDF("k", "_day"))
    // age + vacuum: referenced files under _day=… must survive
    val root = new java.io.File(dir)
    def ageAll(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000): Unit
      if (f.isDirectory) f.listFiles().foreach(ageAll)
    }
    ageAll(root)
    LakeVersions.vacuum(s, dir, keepVersions = 1): Unit
    assert(LakeVersions.read(s, dir).count() == 3L,
      "vacuum must never delete referenced partition data")
  }

  test("maintenance rewrites are versioned commits: compact and z-order keep " +
      "old versions readable, improve pruning, and refuse to erase a racer") {
    val s = spark
    import s.implicits._
    val dir = lake()
    // four appended files: k sequential per slice (tight envelopes),
    // j scattered over the full range in EVERY file (z-order's case)
    (0 until 4).foreach { slice =>
      val rows = (1 to 1000).map { i =>
        val k = slice * 1000 + i
        (k, (k * 2654435761L) % 100000, s"r$k")
      }
      LakeVersions.commit(s, dir, rows.toDF("k", "j", "t").coalesce(1),
        statsCols = Seq("k", "j")): Unit
    }
    def kSum(v: Option[Long] = None) = LakeVersions.read(s, dir, v)
      .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0)
    val fullSum = (1 to 4000).map(_.toLong).sum
    assert(kSum() == fullSum)
    // a j-only range prunes NOTHING pre-rewrite: every file spans j
    val jBounds = Seq(("j", 10000L, 20000L))
    assert(LakeVersions.pruneCounts(s, dir, jBounds) == ((4, 4)))

    // COMPACT: one overwrite version, fewer files, same rows; the
    // pre-compact version stays pinned-readable
    val v5 = LakeVersions.compactCommit(s, dir, targetBytes = 1L << 30)
    assert(v5 == 5L)
    val ledger = LakeVersions.versions(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(ledger(5L) < ledger(4L), s"compaction must shrink the file count: $ledger")
    assert(kSum() == fullSum)
    assert(kSum(Some(4L)) == fullSum, "pre-compact version must stay readable")

    // Z-ORDER: re-clustered overwrite version whose fresh envelopes
    // prune on BOTH dimensions — the j-only range now drops files the
    // append layout could not
    val v6 = LakeVersions.zOrderCommit(s, dir, Seq("k", "j"), partitions = 4)
    assert(v6 == 6L)
    assert(kSum() == fullSum)
    val (keptJ, totalJ) = LakeVersions.pruneCounts(s, dir, jBounds)
    assert(totalJ == 4 && keptJ < 4,
      s"z-order must make j prunable: kept $keptJ/$totalJ")
    val (keptKJ, _) = LakeVersions.pruneCounts(s, dir,
      Seq(("k", 500L, 600L), ("j", 10000L, 20000L)))
    assert(keptKJ <= keptJ, s"2-d box must prune at least as hard: $keptKJ")
    // the rewound layouts are still time-travelable until vacuum
    assert(kSum(Some(5L)) == fullSum)

    // OPTIMISTIC GUARD: a rewrite publishing against a stale expected
    // version throws instead of erasing the racer's commit
    intercept[java.util.ConcurrentModificationException] {
      LakeVersions.commit(s, dir, Seq((9999, 0L, "x")).toDF("k", "j", "t"),
        overwrite = true, expectedLatest = Some(4L))
    }
    assert(LakeVersions.latestVersion(s, dir) == 6L)
    assert(kSum() == fullSum)
  }

  test("cross-driver concurrent appends compose: a second JVM's commits " +
      "interleave losslessly with ours") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq(("seed-0", "seed")).toDF("k", "owner"))
    val ready = java.nio.file.Files.createTempDirectory("graft-lakev-sync")
    val readyFile = ready.resolve("ready").toString
    val goFile = ready.resolve("go").toString
    val n = 4
    // fork the child driver (fresh JVM, own SparkSession, same lake);
    // the go-file handshake makes the two commit loops overlap for real
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "java").toString
    val log = java.nio.file.Files.createTempFile("graft-lakev-child", ".log")
    val pb = new ProcessBuilder((Seq(javaBin, "-Xmx2g",
      "-cp", sys.props("java.class.path"), "graft.LakeCommitProbe",
      dir, readyFile, goFile, "child", n.toString)).asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(log.toFile))
    val child = pb.start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(readyFile))) {
        assert(child.isAlive, s"child died before ready; log: $log")
        assert(System.currentTimeMillis() < deadline, s"child never ready; log: $log")
        Thread.sleep(20)
      }
      java.nio.file.Files.createFile(java.nio.file.Paths.get(goFile)): Unit
      (0 until n).foreach { i =>
        LakeVersions.commit(s, dir, Seq((s"parent-$i", "parent")).toDF("k", "owner")): Unit
      }
      assert(child.waitFor(4, java.util.concurrent.TimeUnit.MINUTES),
        s"child hung; log: $log")
      assert(child.exitValue() == 0, s"child failed; log: $log")
    } finally { child.destroyForcibly(); () }
    // every commit from BOTH drivers survives in the final version...
    val keys = LakeVersions.read(s, dir).select("k")
      .collect().map(_.getString(0)).sorted.toSeq
    val expected = ("seed-0" +: ((0 until n).map(i => s"child-$i") ++
      (0 until n).map(i => s"parent-$i"))).sorted
    assert(keys == expected, s"lost update: $keys")
    // ...and version numbers are dense: one manifest per commit, no
    // clobbered or skipped ordinals
    val vs = LakeVersions.versions(s, dir).select("version")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vs == (1L to (2L * n + 1)), s"non-dense versions: $vs")
    java.nio.file.Files.deleteIfExists(log): Unit
  }

  test("concurrent appends compose: parallel committers never clobber") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((0, "seed")).toDF("k", "t"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (1 to 4).map { i =>
        new java.util.concurrent.Callable[Long] {
          def call(): Long =
            LakeVersions.commit(s, dir, Seq((i, s"w$i")).toDF("k", "t"))
        }
      }
      val vs = pool.invokeAll(tasks.asJava).asScala.map(_.get()).sorted.toSeq
      // four distinct versions, and the final state holds EVERY row —
      // lost-race retries recompute against the winner
      assert(vs.distinct.size == 4)
      assert(LakeVersions.read(s, dir).select("k")
        .collect().map(_.getInt(0)).sorted.toSeq == (0 to 4))
    } finally pool.shutdown()
  }

  test("latest-version discovery rides the HEAD pointer and survives every " +
      "pointer failure mode: absent, stale, torn, garbage") {
    val s = spark
    import s.implicits._
    val dir = lake()
    (1 to 12).foreach { i =>
      LakeVersions.commit(s, dir, Seq((i, s"r$i")).toDF("k", "t")): Unit
    }
    val head = new java.io.File(dir, "_graft_versions/HEAD")
    assert(head.exists(), "commit must maintain the high-water pointer")
    assert(new String(java.nio.file.Files.readAllBytes(head.toPath)) == "12")
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    def setHead(v: String): Unit = {
      java.nio.file.Files.write(head.toPath, v.getBytes): Unit
      // fabricating outside the fs API leaves the commit's checksum
      // sidecar stale; drop it so the POINTER path is what runs (a
      // checksum failure would silently exercise only the fallback)
      java.nio.file.Files.deleteIfExists(
        new java.io.File(head.getParentFile, ".HEAD.crc").toPath): Unit
    }
    // absent (a pre-pointer lake): listing fallback
    assert(head.delete())
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    // stale by k (k crashed commits that renamed but never pointed):
    // versions are dense, so the forward probe walks exactly the lag
    setHead("9")
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    // torn decimal prefix parses SMALLER -> probe self-heals forward
    setHead("1")
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    // garbage / future values: manifest missing -> listing fallback
    setHead("not-a-number")
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    setHead("99999")
    assert(LakeVersions.latestVersion(s, dir) == 12L)
    // a commit repairs the pointer
    LakeVersions.commit(s, dir, Seq((13, "r13")).toDF("k", "t")): Unit
    assert(new String(java.nio.file.Files.readAllBytes(head.toPath)) == "13")
    // vacuum repairs it too
    setHead("2")
    LakeVersions.vacuum(s, dir): Unit
    assert(new String(java.nio.file.Files.readAllBytes(head.toPath)) == "13")
  }

  test("a narrower append must not shrink the table schema: the header " +
      "records the MERGED shape, so a dropped column cannot return re-typed") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a", 7.5)).toDF("k", "t", "score"))
    // append WITHOUT score — before the fix this rewrote the table
    // schema as (k, t), silently forgetting score's type
    LakeVersions.commit(s, dir, Seq((2, "b")).toDF("k", "t"))
    val got = LakeVersions.read(s, dir)
    assert(got.schema.fieldNames.toSeq == Seq("k", "t", "score"),
      "narrow append shrank the recorded table schema")
    assert(got.filter("k = 2").select("score").head().isNullAt(0))
    // the poison scenario: committing score back RE-TYPED must still
    // fail the gate (with a shrunken header it would pass and corrupt)
    val e = intercept[IllegalArgumentException] {
      LakeVersions.commit(s, dir, Seq((3, "c", "not-a-double"))
        .toDF("k", "t", "score"))
    }
    assert(e.getMessage.contains("score"), e.getMessage)
  }

  test("append-time type widening: an int column widened to long by a later " +
      "append reads back unified, and the drift ledger records it") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, 10), (2, 20)).toDF("k", "n"))
    // month-over-month crawl outgrew int32: the append widens n to
    // long instead of stranding the table
    LakeVersions.commit(s, dir,
      Seq((3L, 5000000000L)).toDF("k", "n")
        .selectExpr("cast(k as int) k", "n"))
    val got = LakeVersions.read(s, dir)
    assert(got.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(got.select("k", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq ==
      Seq((1, 10L), (2, 20L), (3, 5000000000L)),
      "old int-written files must decode through the widened long schema")
    // pinned v1 reads with ITS schema era? No — the v1 header recorded
    // int, so time travel keeps the era's shape
    assert(LakeVersions.read(s, dir, Some(1L)).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val drift = LakeVersions.schemaDrift(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq
    assert(drift == Seq((2L, "n", "int", "bigint", "widen")), drift.toString)
    // lossy drift still refuses: long -> int is not a widening
    val e = intercept[IllegalArgumentException] {
      LakeVersions.commit(s, dir, Seq((4, true)).toDF("k", "n"))
    }
    assert(e.getMessage.contains("n"), e.getMessage)
  }

  test("truncateEnvelope: sound lossy bounds — prefix lower, incremented " +
      "upper, None when the truncation is all 0xFF") {
    def enc(lo: String, hi: String) = {
      val (l, h) = LakeVersions.truncateEnvelope(
        lo.getBytes("UTF-8"), hi.getBytes("UTF-8"))
      (new String(java.util.Base64.getDecoder.decode(l), "UTF-8"),
        h.map(x => new String(java.util.Base64.getDecoder.decode(x), "UTF-8")))
    }
    // short strings: exact
    assert(enc("abc", "abd") == ("abc", Some("abd")))
    // long strings: lower truncates (still <= true min in byte order),
    // upper truncates AND increments (still >= true max)
    val (lo, hi) = enc("doc-aaaaaaaaaaaaaaaaZZZ", "doc-bbbbbbbbbbbbbbbbAAA")
    assert(lo == "doc-aaaaaaaaaaaa" && lo.length == 16)
    assert(hi.contains("doc-bbbbbbbbbbbc"),
      s"upper must increment its last byte, got $hi")
    // exactly-16-byte max: no truncation, no increment
    assert(enc("x", "y" * 16)._2.contains("y" * 16))
    // a max whose 16-byte truncation is all 0xFF cannot be
    // incremented: no upper bound
    val ff = Array.fill[Byte](20)(0xff.toByte)
    assert(LakeVersions.truncateEnvelope(Array[Byte](1), ff)._2.isEmpty)
    // increments carry PAST trailing 0xFF bytes
    val mixed = "ab".getBytes("UTF-8") ++ Array.fill[Byte](18)(0xff.toByte)
    val inc = LakeVersions.truncateEnvelope(Array[Byte](1), mixed)._2.get
    val incB = java.util.Base64.getDecoder.decode(inc)
    assert(incB.toSeq == "ac".getBytes("UTF-8").toSeq,
      s"expected 'ac', got ${incB.toSeq}")
  }

  test("string-key manifest pruning: truncated c_name-style envelopes " +
      "prune a sorted string lake soundly, exactly like int envelopes") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    // ids are 21 chars — past the 16-byte truncation — and sorted
    def id(k: Int) = f"doc-$k%05d-xxxxxxxxxxxx"
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 30 until (i + 1) * 30).map(k => (id(k), k)).toDF("id", "n")
          .coalesce(1),
        statsCols = Seq("id")): Unit
    }
    val (lo, hi) = (id(35), id(55)) // inside file 2's envelope
    val (kept, total) = LakeVersions.pruneCounts(
      s, dir, Nil, strBounds = Seq(("id", lo, hi)))
    assert((kept, total) == (1, 3), s"kept $kept of $total")
    val rows = LakeVersions.readPruned(s, dir, Nil,
        strBounds = Seq(("id", lo, hi)))
      .filter(col("id").between(lo, hi))
      .select("n").collect().map(_.getInt(0)).sorted.toSeq
    assert(rows == (35 to 55), "pruning dropped a file that held rows")
    // a range spanning two files keeps exactly two
    assert(LakeVersions.pruneCounts(s, dir, Nil,
      strBounds = Seq(("id", id(25), id(35))))._1 == 2)
    // the graftlake face derives the same pruning from plain predicates
    val face = spark.read.format("graftlake").load(dir)
      .filter(col("id") >= lo && col("id") <= hi)
    face.collect(): Unit
    val scan = graft.plans.PlanLint.physicalPlan(face).collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.head
    assert(scan.metrics("numFiles").value == 1L,
      s"string predicate planned ${scan.metrics("numFiles").value} of 3 files")
    // equality on a single id prunes to its file through the face too
    val eqDf = spark.read.format("graftlake").load(dir)
      .filter(col("id") === id(70))
    eqDf.collect(): Unit
    val eqScan = graft.plans.PlanLint.physicalPlan(eqDf).collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.head
    assert(eqScan.metrics("numFiles").value == 1L)
  }

  test("deleteWhere: only hit files rewrite, the rest carry by reference; " +
      "old versions still read the deleted rows") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 10 until (i + 1) * 10).map(k => (k.toLong, s"r$k"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    val pre = LakeVersions.read(s, dir, Some(3L)).inputFiles.toSet
    val (v, rewritten, carried) =
      LakeVersions.deleteWhere(s, dir, col("k") === 15)
    assert((v, rewritten, carried) == (4L, 1, 2))
    val post = LakeVersions.read(s, dir).inputFiles.toSet
    // the two untouched files appear in BOTH manifests under the SAME
    // relpaths — carried by reference, zero bytes moved
    assert((pre intersect post).size == 2,
      s"carried files must keep their relpaths (shared=${(pre intersect post).size})")
    assert(LakeVersions.read(s, dir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L).filterNot(_ == 15L))
    // takedown audit: the pinned pre-delete version still reads it
    assert(LakeVersions.read(s, dir, Some(3L)).filter("k = 15").count() == 1L)
    assert(LakeVersions.tagOf(s, dir, Some(4L)) == "delete-of-v3")
    // the rewritten file's stats envelope was re-recorded: a pruned
    // read on the rewritten range still plans 1 file
    assert(LakeVersions.pruneCounts(s, dir, Seq(("k", 12L, 18L))) == (1, 3))
    // a predicate matching nothing commits nothing
    assert(LakeVersions.deleteWhere(s, dir, col("k") === 999) ==
      (4L, 0, 3))
    assert(LakeVersions.latestVersion(s, dir) == 4L)
  }

  test("deleteWhere: SQL null semantics (null keeps), whole-file deletion " +
      "drops the file, partitioned lakes rewrite within their layout") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1L, Some("a"), 0), (2L, None, 0), (3L, Some("del"), 1),
        (4L, Some("del"), 1)).toDF("k", "t", "reg").repartition(1),
      partitionBy = Seq("reg"), statsCols = Seq("k")): Unit
    // t = 'del' is TRUE only on rows 3,4; row 2's NULL comparison must
    // KEEP the row (DELETE removes only where the predicate is TRUE)
    val (v, rewritten, _) =
      LakeVersions.deleteWhere(s, dir, col("t") === "del")
    assert(v == 2L)
    assert(rewritten >= 1)
    val got = LakeVersions.read(s, dir)
    assert(got.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L), "the null-predicate row was wrongly deleted")
    // layout preserved: surviving rows still sit in their reg= dirs
    assert(got.inputFiles.forall(_.contains("reg=")))
    // whole-partition deletion: reg=1 had only deleted rows — its dir
    // contributes no files to the new manifest
    assert(!got.inputFiles.exists(_.contains("reg=1")))
  }

  test("deleteWhere's publish window is guarded: a racer's append between " +
      "pin and publish throws instead of being erased") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1L, "a")).toDF("k", "t"))
    val m = LakeVersions.pinned(s, dir, Some(1L))
    // racer lands an append after the pin
    LakeVersions.commit(s, dir, Seq((2L, "b")).toDF("k", "t"))
    // the carried-rewrite publish (deleteWhere's primitive) must now
    // refuse: its carry list came from a superseded manifest
    intercept[java.util.ConcurrentModificationException] {
      LakeVersions.commitCarried(s, dir,
        Seq((9L, "z")).toDF("k", "t"), m.files, Nil, Nil,
        tag = "delete-of-v1", expectedLatest = 1L)
    }
    // nothing erased: both rows still read
    assert(LakeVersions.read(s, dir).count() == 2L)
  }

  test("string pruning on ESCAPED partition values: the bound compares the " +
      "unescaped value, so 'a:b'-style keys are never wrongly pruned") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq(("example.com:8080", 1L), ("other.net:9090", 2L))
        .toDF("site", "n").repartition(1),
      partitionBy = Seq("site")): Unit
    // the dir on disk is hive-escaped (site=example.com%3A8080);
    // pruning must unescape before comparing or this returns 0 files
    val kept = LakeVersions.pruneCounts(s, dir, Nil,
      strBounds = Seq(("site", "example.com:8080", "example.com:8080")))
    assert(kept._1 == 1, s"escaped partition value wrongly pruned: $kept")
    assert(LakeVersions.readPruned(s, dir, Nil,
        strBounds = Seq(("site", "example.com:8080", "example.com:8080")))
      .filter(col("site") === "example.com:8080")
      .select("n").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // through the graftlake face too: equality predicate on the
    // partition column prunes to 1 file AND the value reads back
    val face = spark.read.format("graftlake").load(dir)
      .filter(col("site") === "example.com:8080")
    assert(face.select("n").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("the widening lattice excludes long+fractional: that append is " +
      "REJECTED (double is lossy above 2^53 and INT64 pages cannot be " +
      "decoded as double), while int->double widens and reads") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, 10)).toDF("k", "n"))
    // int -> double: lossless AND readable (parquet widening promotion)
    LakeVersions.commit(s, dir, Seq((2, 2.5)).toDF("k", "n"))
    val got = LakeVersions.read(s, dir)
    assert(got.schema("n").dataType == org.apache.spark.sql.types.DoubleType)
    assert(got.select("k", "n").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      Seq((1, 10.0), (2, 2.5)))
    // long + double: refused at the gate — the v1 long file could
    // never be read back through a double header
    val dir2 = lake()
    LakeVersions.commit(s, dir2, Seq((1, 10L)).toDF("k", "n"))
    val e = intercept[IllegalArgumentException] {
      LakeVersions.commit(s, dir2, Seq((2, 2.5)).toDF("k", "n"))
    }
    assert(e.getMessage.contains("n"), e.getMessage)
    assert(LakeVersions.read(s, dir2).count() == 1L,
      "the rejected append must not poison the table")
  }

  test("legacy v2 manifests (last-append header) still read the union of " +
      "their files; the next commit upgrades the header to v3 merged") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, "a", 7.5)).toDF("k", "t", "score"))
    LakeVersions.commit(s, dir, Seq((2, "b")).toDF("k", "t"))
    // forge what the previous release wrote: v2 magic with the LAST
    // commit's NARROW schema in the header
    val mf = new java.io.File(dir, "_graft_versions/v00000002.manifest")
    val lines = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8").split("\n")
    val h = lines.head.split("\t", -1)
    val narrow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.StringType)))
    val forged = (Array("graft-lake-manifest-v2", narrow.json, h(2), h(3))
      .mkString("\t") +: lines.tail).mkString("\n")
    java.nio.file.Files.write(mf.toPath, forged.getBytes("UTF-8")): Unit
    java.nio.file.Files.deleteIfExists(
      new java.io.File(mf.getParentFile, s".${mf.getName}.crc").toPath): Unit
    // the legacy read must still surface score (mergeSchema path) —
    // trusting the narrow header would silently drop the column
    val got = LakeVersions.read(s, dir)
    assert(got.columns.contains("score"),
      "legacy v2 narrow header silently dropped a column")
    assert(got.filter("k = 1").select("score").head().getDouble(0) == 7.5)
    // the SQL face resolves the union too (its relation schema would
    // otherwise BE the narrow header)
    val face = spark.read.format("graftlake").load(dir)
    assert(face.columns.contains("score"),
      "graftlake face trusted the legacy narrow header")
    assert(face.filter("k = 1").select("score").head().getDouble(0) == 7.5)
    // an append recovers the TRUE schema from the files' union and
    // writes an authoritative v3 header
    LakeVersions.commit(s, dir, Seq((3, "c")).toDF("k", "t"))
    val v3 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_graft_versions/v00000003.manifest").toPath),
      "UTF-8")
    assert(v3.startsWith("graft-lake-manifest-v3"))
    assert(v3.split("\n").head.contains("score"),
      "the upgrade commit must record the files' union, not the v2 header")
    assert(LakeVersions.read(s, dir).columns.contains("score"))
  }

  test("deleteWhere on a hive-escaped string partition: the URL-encoded " +
      "input_file_name round-trips to the manifest relpath, rows actually die") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    // ':' hive-escapes to %3A in the dir name; input_file_name then
    // URL-encodes that to %253A — a naive compare never matches and
    // the delete silently no-ops
    LakeVersions.commit(s, dir,
      Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain")).toDF("k", "site")
        .repartition(1),
      partitionBy = Seq("site")): Unit
    val (v, rewritten, _) =
      LakeVersions.deleteWhere(s, dir, col("k") === 2L)
    assert(v == 2L)
    assert(rewritten >= 1, "the escaped-partition hit file must be rewritten")
    assert(LakeVersions.read(s, dir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      "the row in the escaped partition survived the delete")
  }

  test("schemaDrift labels a lossless nested-field ADD 'widen', not 'retype'") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.struct
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1, 7)).toDF("k", "a").select($"k", struct($"a").as("meta")))
    LakeVersions.commit(s, dir,
      Seq((2, 8, "x")).toDF("k", "a", "b")
        .select($"k", struct($"a", $"b").as("meta")))
    val drift = LakeVersions.schemaDrift(s, dir).collect()
      .map(r => (r.getString(1), r.getString(4))).toSeq
    assert(drift == Seq(("meta", "widen")), drift.toString)
  }

  test("schemaDrift labels an overwrite's re-type 'retype', never 'widen'") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, 10)).toDF("k", "n"))
    LakeVersions.commit(s, dir,
      Seq((1, "ten")).toDF("k", "n"), overwrite = true)
    val drift = LakeVersions.schemaDrift(s, dir).collect()
      .map(r => (r.getString(1), r.getString(4))).toSeq
    assert(drift == Seq(("n", "retype")), drift.toString)
  }

  test("an un-pinned graftlake view follows the lake on REFRESH TABLE; " +
      "a versionAsOf pin never moves") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1L, "a")).toDF("k", "t"))
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_follow " +
      s"USING graftlake OPTIONS (path '$dir')"): Unit
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_pinned " +
      s"USING graftlake OPTIONS (path '$dir', versionAsOf '1')"): Unit
    assert(s.sql("SELECT count(*) FROM lake_follow").head().getLong(0) == 1L)
    LakeVersions.commit(s, dir, Seq((2L, "b")).toDF("k", "t"))
    s.sql("REFRESH TABLE lake_follow"): Unit
    assert(s.sql("SELECT count(*) FROM lake_follow").head().getLong(0) == 2L,
      "REFRESH TABLE must re-resolve an un-pinned view to latest")
    s.sql("REFRESH TABLE lake_pinned"): Unit
    assert(s.sql("SELECT count(*) FROM lake_pinned").head().getLong(0) == 1L,
      "a pinned view must never move, refresh or not")
  }

  test("maintenanceReport: fragmented layouts say compact, interleaved key " +
      "ranges say zorder, a sorted compacted lake says ok") {
    val s = spark
    import s.implicits._
    // deliberately fragmented AND de-clustered: 4 tiny round-robin
    // commits, each file spanning the whole key range
    val dir = lake()
    (0 until 4).foreach { i =>
      LakeVersions.commit(s, dir,
        (0 until 25).map(j => ((j * 4 + i).toLong, s"r$i-$j"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    val r1 = LakeVersions.maintenanceReport(s, dir).collect().head
    assert(r1.getAs[String]("partition") == "(table)")
    assert(r1.getAs[Int]("n_files") == 4)
    assert(r1.getAs[Int]("small_files") == 4)
    assert(r1.getAs[String]("overlap_col") == "k")
    assert(r1.getAs[Double]("overlap") > 3.0,
      s"round-robin files each span the range: overlap ~4, got ${r1.getAs[Double]("overlap")}")
    assert(r1.getAs[String]("recommendation") == "compact+zorder(k)")
    // apply the advice: compact (merges the smalls) then re-sort
    LakeVersions.compactCommit(s, dir): Unit
    val afterCompact = LakeVersions.maintenanceReport(s, dir).collect().head
    assert(afterCompact.getAs[Int]("small_files") <= 1)
    assert(!afterCompact.getAs[String]("recommendation").contains("compact"))
    // a sorted rewrite (three disjoint slices) reads ok
    val dir2 = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir2,
        (i * 30 until (i + 1) * 30).map(k => (k.toLong, s"r$k"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    val sorted = LakeVersions.maintenanceReport(s, dir2).collect().head
    assert(sorted.getAs[Double]("overlap") <= 1.01)
    // small files still flag compact on the sorted lake (tiny fixture
    // files), but never zorder — the clustering is already right
    assert(!sorted.getAs[String]("recommendation").contains("zorder"))
    // partitioned lakes report per partition
    val dir3 = lake()
    LakeVersions.commit(s, dir3,
      (0 until 20).map(j => (j.toLong, j % 2, s"r$j")).toDF("k", "p", "t")
        .repartition(2),
      partitionBy = Seq("p"), statsCols = Seq("k")): Unit
    val parts = LakeVersions.maintenanceReport(s, dir3).collect()
      .map(_.getAs[String]("partition")).toSeq.sorted
    assert(parts == Seq("p=0", "p=1"), parts.toString)
  }

  test("vacuum never ages out a manifest inside the olderThanMs margin: " +
      "retention provably outlives the crash-replay window") {
    val s = spark
    import s.implicits._
    val dir = lake()
    // an epoch commit, then a maintenance burst (compact + z-order)
    // pushes it past keepVersions — all within the replay window
    LakeVersions.commit(s, dir, Seq((1, 1L), (2, 2L)).toDF("k", "n"),
      tag = "side-epoch-7")
    LakeVersions.compactCommit(s, dir)
    LakeVersions.zOrderCommit(s, dir, Seq("k", "n"), partitions = 1)
    val removed = LakeVersions.vacuum(s, dir, keepVersions = 2)
    assert(removed == 0, s"a minutes-old manifest was vacuumed ($removed)")
    // the replay test still sees its tag — no double commit
    assert(LakeVersions.tagOf(s, dir, Some(1L)) == "side-epoch-7")
    assert(LakeVersions.read(s, dir, Some(1L)).count() == 2L,
      "the surviving manifest's data files must not be swept either")
    // once genuinely old, the same vacuum drops it
    val mf = new java.io.File(dir,
      "_graft_versions/v00000001.manifest")
    assert(mf.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(LakeVersions.vacuum(s, dir, keepVersions = 2) >= 1)
    intercept[IllegalArgumentException](LakeVersions.read(s, dir, Some(1L)))
  }

  test("updateWhere: only hit files rewrite (carry by reference), every SET " +
      "expression sees the OLD row, null predicate keeps, re-type refuses") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 10 until (i + 1) * 10).map(k => (k.toLong, k.toLong * 100))
          .toDF("a", "b").coalesce(1),
        statsCols = Seq("a")): Unit
    }
    val pre = LakeVersions.read(s, dir, Some(3L)).inputFiles.toSet
    // SET a=b, b=a on one row: a fold of withColumn would read the NEW
    // a when computing b — SQL UPDATE must swap
    val (v, rewritten, carried) = LakeVersions.updateWhere(s, dir,
      col("a") === 15L, Map("a" -> col("b"), "b" -> col("a")))
    assert((v, rewritten, carried) == (4L, 1, 2))
    val post = LakeVersions.read(s, dir).inputFiles.toSet
    assert((pre intersect post).size == 2,
      "carried files must keep their relpaths")
    val hit = LakeVersions.read(s, dir).filter(col("b") === 15L).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1500L, 15L)), "SET must evaluate against the old row (swap)")
    // untouched rows byte-identical; old version still reads pre-update
    assert(LakeVersions.read(s, dir).filter(col("a") === 14L)
      .head().getLong(1) == 1400L)
    assert(LakeVersions.read(s, dir, Some(3L)).filter(col("a") === 15L)
      .head().getLong(1) == 1500L)
    assert(LakeVersions.tagOf(s, dir, Some(4L)) == "update-of-v3")
    // a null predicate KEEPS the old values (SQL UPDATE semantics)
    val (v2, rw2, _) = LakeVersions.updateWhere(s, dir,
      lit(null).cast("boolean"), Map("b" -> lit(0L)))
    assert(v2 == 4L && rw2 == 0, "null predicate must match no file")
    // the rewritten file's envelope re-recorded: pruning still exact
    assert(LakeVersions.pruneCounts(s, dir, Seq(("a", 0L, 9L))) == (1, 3))
    // SET must not re-type the table
    val e = intercept[IllegalArgumentException] {
      LakeVersions.updateWhere(s, dir, col("a") === 1L,
        Map("b" -> lit("oops")))
    }
    assert(e.getMessage.contains("re-types") && e.getMessage.contains("b"))
    // ...and the refusal is DATA-INDEPENDENT: the same bad SET with a
    // predicate matching NOTHING still refuses (a silent success that
    // starts throwing the first day a row matches is a trap)
    intercept[IllegalArgumentException] {
      LakeVersions.updateWhere(s, dir, col("a") === 99999L,
        Map("b" -> lit("oops")))
    }
    // unknown SET column refuses with the table's columns named
    intercept[IllegalArgumentException] {
      LakeVersions.updateWhere(s, dir, col("a") === 1L,
        Map("nope" -> lit(1L)))
    }
    // the probe scan is manifest-pruned: the predicate must reach the
    // graftlake scan (input_file_name added ABOVE the filter — below
    // it, the nondeterministic projection blocks pushdown and every
    // delete/update reads the whole table)
    val probe = s.read.format("graftlake").load(dir)
      .filter(col("a") === 15L)
      .withColumn("__f", org.apache.spark.sql.functions.input_file_name())
    probe.collect(): Unit // metrics exist only after execution
    val scans = graft.plans.PlanLint.physicalPlan(probe).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.metrics("numFiles").value == 1,
      s"probe must plan 1 of 3 files, planned " +
        s"${scans.headOption.map(_.metrics("numFiles").value)}")
  }

  test("updateWhere on a partitioned lake: updating the partition column " +
      "moves the row to its new value's directory") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1L, 0), (2L, 0), (3L, 1)).toDF("k", "reg").repartition(1),
      partitionBy = Seq("reg"), statsCols = Seq("k")): Unit
    val (_, rewritten, _) = LakeVersions.updateWhere(s, dir,
      col("k") === 2L, Map("reg" -> lit(9)))
    assert(rewritten >= 1)
    val got = LakeVersions.read(s, dir)
    assert(got.filter(col("k") === 2L).head().getInt(1) == 9)
    val fileOf2 = got.withColumn("f",
      org.apache.spark.sql.functions.input_file_name())
      .filter(col("k") === 2L).head().getString(2)
    assert(fileOf2.contains("reg=9"), s"row must live under reg=9: $fileOf2")
    assert(got.count() == 3L)
  }

  test("mergeInto: matched keys replace in hit files, new keys insert, " +
      "untouched files carry; dup-key and schema-mismatch sources refuse") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 10 until (i + 1) * 10).map(k => (k.toLong, s"old$k"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    val pre = LakeVersions.read(s, dir, Some(3L)).inputFiles.toSet
    // source: replace k=15, insert k=99 — only file 2 (10..19) is hit;
    // the key envelope [15, 99] cannot prune file 3 (20..29) but the
    // SEMI JOIN still leaves it carry (no matched key in it)
    val source = Seq((15L, "new15"), (99L, "new99")).toDF("k", "t")
    val (v, rewritten, carried) =
      LakeVersions.mergeInto(s, dir, source, Seq("k"))
    assert(v == 4L && rewritten == 1 && carried == 2,
      s"expected 1 rewrite / 2 carries, got $rewritten/$carried")
    val post = LakeVersions.read(s, dir).inputFiles.toSet
    assert((pre intersect post).size == 2,
      "files without matched keys must carry by reference")
    val got = LakeVersions.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 31)
    assert(got(15L) == "new15" && got(99L) == "new99")
    assert(got(14L) == "old14" && got(25L) == "old25")
    assert(LakeVersions.tagOf(s, dir, Some(4L)) == "merge-of-v3")
    // a duplicate-keyed CDC batch is ambiguous — refuse
    val dupE = intercept[IllegalArgumentException] {
      LakeVersions.mergeInto(s, dir,
        Seq((1L, "x"), (1L, "y")).toDF("k", "t"), Seq("k"))
    }
    assert(dupE.getMessage.contains("duplicate"))
    // a source shaped differently from the table refuses
    intercept[IllegalArgumentException] {
      LakeVersions.mergeInto(s, dir,
        Seq((1L, "x", 0)).toDF("k", "t", "extra"), Seq("k"))
    }
    // same names but a re-typed column refuses too — name-only
    // validation would let unionByName stringify ints into t silently
    val retypedE = intercept[IllegalArgumentException] {
      LakeVersions.mergeInto(s, dir, Seq((1L, 7)).toDF("k", "t"), Seq("k"))
    }
    assert(retypedE.getMessage.contains("re-types"))
    // an empty CDC batch is a no-op: no version published
    val beforeEmpty = LakeVersions.latestVersion(s, dir)
    val (ve, rwe, _) = LakeVersions.mergeInto(s, dir,
      Seq.empty[(Long, String)].toDF("k", "t"), Seq("k"))
    assert(ve == beforeEmpty && rwe == 0)
    assert(LakeVersions.latestVersion(s, dir) == beforeEmpty,
      "an empty merge must not publish a version")
    // null-keyed source rows never match: they insert — and TWO of
    // them are NOT "duplicate keys" (neither can win over anything;
    // a dup check that groups nulls together would refuse a batch of
    // yet-unkeyed inserts)
    val (v5, rw5, _) = LakeVersions.mergeInto(s, dir,
      Seq((Option.empty[Long], "nullk1"), (Option.empty[Long], "nullk2"))
        .toDF("k", "t"), Seq("k"))
    assert(v5 == 5L && rw5 == 0)
    assert(LakeVersions.read(s, dir).count() == 33L)
    assert(LakeVersions.read(s, dir).filter(col("k").isNull).count() == 2L)
  }

  test("appendsBetween reads exactly the appended rows from added files; " +
      "a rewrite in the window refuses; fileChanges ledgers the delta") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 10 until (i + 1) * 10).map(k => (k.toLong, s"r$k"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    val incr = LakeVersions.appendsBetween(s, dir, 1L, 3L)
    assert(incr.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (10L until 30L), "the incremental read must be exactly v2+v3 rows")
    // the read plans ONLY the added files — O(new data), not O(table)
    assert(incr.inputFiles.length == 2)
    // same endpoints, no window: empty
    assert(LakeVersions.appendsBetween(s, dir, 3L, 3L).count() == 0L)
    // the file ledger agrees, from manifests alone
    val changes = LakeVersions.fileChanges(s, dir, 1L, 3L).collect()
    assert(changes.length == 2 && changes.forall(_.getString(1) == "added"))
    assert(changes.map(_.getLong(2)).sum == 20L, "ledger rows = appended rows")
    // a delete rewrites a v1 file: the window is no longer append-only
    LakeVersions.deleteWhere(s, dir, col("k") === 5L): Unit
    val e = intercept[IllegalStateException] {
      LakeVersions.appendsBetween(s, dir, 1L, 4L)
    }
    assert(e.getMessage.contains("not append-only") &&
      e.getMessage.contains("diff"))
    // the ledger still answers for the rewrite window: one file out,
    // one (rewritten) in
    val d = LakeVersions.fileChanges(s, dir, 3L, 4L).collect()
    assert(d.count(_.getString(1) == "removed") == 1 &&
      d.count(_.getString(1) == "added") == 1)
  }

  test("consumeAppends: bootstrap snapshot then increments; a failed " +
      "processor replays; a rewrite refuses without advancing") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    val ck = dir + "_ck/consumer-a"
    def commitRange(lo: Int, hi: Int): Unit =
      LakeVersions.commit(s, dir,
        (lo until hi).map(k => (k.toLong, s"r$k")).toDF("k", "t")
          .coalesce(1), statsCols = Seq("k")): Unit
    (0 until 3).foreach(i => commitRange(i * 10, (i + 1) * 10))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    // first call: the bootstrap snapshot (hw=0 -> full table)
    assert(LakeVersions.consumeAppends(s, dir, ck) { df =>
      seen ++= df.select("k").collect().map(_.getLong(0))
    } == (0L, 3L))
    assert(seen.sorted.toSeq == (0L until 30L))
    // nothing new: the processor must NOT run
    var ran = false
    assert(LakeVersions.consumeAppends(s, dir, ck) { _ => ran = true } ==
      (3L, 3L))
    assert(!ran)
    // a crash mid-process leaves the checkpoint put: the increment
    // replays entirely on the next call (at-least-once)
    commitRange(30, 40)
    intercept[RuntimeException] {
      LakeVersions.consumeAppends(s, dir, ck) { _ =>
        throw new RuntimeException("sink died")
      }
    }
    seen.clear()
    assert(LakeVersions.consumeAppends(s, dir, ck) { df =>
      seen ++= df.select("k").collect().map(_.getLong(0))
    } == (3L, 4L))
    assert(seen.sorted.toSeq == (30L until 40L))
    // a rewrite in the window refuses and does NOT advance — restated
    // rows never silently double-process
    LakeVersions.deleteWhere(s, dir, col("k") === 5L): Unit
    intercept[IllegalStateException] {
      LakeVersions.consumeAppends(s, dir, ck) { _ => () }
    }
    // the operator reconciles by hand and advances explicitly
    LakeVersions.advanceCheckpoint(s, ck, 5L)
    commitRange(50, 60)
    seen.clear()
    assert(LakeVersions.consumeAppends(s, dir, ck) { df =>
      seen ++= df.select("k").collect().map(_.getLong(0))
    } == (5L, 6L))
    assert(seen.sorted.toSeq == (50L until 60L))
    // only the newest marker survives an advance (older ones pruned),
    // and a crash that left extras would still read as max()
    val hfs = new org.apache.hadoop.fs.Path(ck)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val markers = hfs.listStatus(new org.apache.hadoop.fs.Path(ck))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted
    assert(markers.toSeq == Seq("v6"), s"markers: ${markers.mkString(",")}")
    // a checkpoint AHEAD of the lake (rebuilt table) is loud, not a
    // silent forever-skip
    LakeVersions.advanceCheckpoint(s, ck, 99L)
    val ahead = intercept[IllegalArgumentException] {
      LakeVersions.consumeAppends(s, dir, ck) { _ => () }
    }
    assert(ahead.getMessage.contains("rebuilt") ||
      ahead.getMessage.contains("re-bootstrap"))
    // a foreign file in the checkpoint dir is loud and names recovery
    hfs.delete(new org.apache.hadoop.fs.Path(ck, "v99"), false)
    hfs.create(new org.apache.hadoop.fs.Path(ck, "garbage"), true).close()
    val e = intercept[IllegalStateException] {
      LakeVersions.consumeAppends(s, dir, ck) { _ => () }
    }
    assert(e.getMessage.contains("re-bootstrap"))
  }

  test("every Spark job a lake op starts touches data: append and compaction " +
      "1, delete and update 2, merge at most 8") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = lake()
    LakeVersions.commit(s, dir,
      (0 until 20).map(k => (k.toLong, s"old$k")).toDF("k", "t").coalesce(1),
      statsCols = Seq("k")): Unit
    val jobs = Seq(
      "deleteWhere" -> TestSpark.jobsStartedBy(
        LakeVersions.deleteWhere(s, dir, col("k") === 3L)),
      "updateWhere" -> TestSpark.jobsStartedBy(
        LakeVersions.updateWhere(s, dir, col("k") === 4L,
          Map("t" -> lit("upd")))),
      "mergeInto" -> TestSpark.jobsStartedBy(
        LakeVersions.mergeInto(s, dir,
          Seq((5L, "new5"), (99L, "new99")).toDF("k", "t"), Seq("k"))),
      "commit" -> TestSpark.jobsStartedBy(
        LakeVersions.commit(s, dir,
          Seq((100L, "app")).toDF("k", "t").coalesce(1),
          statsCols = Seq("k"))),
      "compactCommit" -> TestSpark.jobsStartedBy(
        LakeVersions.compactCommit(s, dir))).toMap
    info(s"jobs per op: ${jobs.toSeq.sorted.mkString(", ")}")
    assert(LakeVersions.latestVersion(s, dir) == 6L, "every op must commit")
    assert(Seq("commit", "compactCommit").map(jobs) == Seq(1, 1), jobs)
    assert(Seq("deleteWhere", "updateWhere").map(jobs) == Seq(2, 2), jobs)
    assert(jobs("mergeInto") <= 8, jobs)
    // the stats the jobless footer reads recorded are the real envelopes
    val entries = LakeVersions.pinned(s, dir, None).files
    assert(entries.size == 1 && entries.head.rows == 21L)
    assert(entries.head.stats("k") == ((0L, 100L)))
    val got = LakeVersions.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 21 && !got.contains(3L))
    assert(got(4L) == "upd" && got(5L) == "new5" && got(99L) == "new99")
  }

  test("mergeInto's one-aggregate batch checks: a repeated key tuple refuses " +
      "by name, null-holding tuples insert, string and all-null int keys merge") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1, "a", "old1a"), (1, "b", "old1b"), (2, "a", "old2a"))
        .toDF("k", "s", "t").coalesce(1), statsCols = Seq("k")): Unit
    // a two-column key repeats one tuple: refused, and the message
    // names that tuple (not the tuple sharing only its first column)
    val dupE = intercept[IllegalArgumentException] {
      LakeVersions.mergeInto(s, dir,
        Seq((1, "a", "x"), (1, "b", "y"), (1, "a", "z")).toDF("k", "s", "t"),
        Seq("k", "s"))
    }
    assert(dupE.getMessage.contains("duplicate keys (e.g. k=1, s=a)"),
      dupE.getMessage)
    assert(LakeVersions.latestVersion(s, dir) == 1L)
    // repeated tuples that each hold a null can never match: all insert
    val withNulls = Seq[(Option[Int], Option[String], String)](
      (Some(1), None, "n1"), (Some(1), None, "n2"),
      (None, Some("a"), "n3"), (None, Some("a"), "n4"))
    val (v2, rw2, _) = LakeVersions.mergeInto(s, dir,
      withNulls.toDF("k", "s", "t"), Seq("k", "s"))
    assert(v2 == 2L && rw2 == 0)
    assert(LakeVersions.read(s, dir).count() == 7L)
    // an int key column that is all null: no envelope bound, and the
    // rows insert without replacing anything
    val (v3, rw3, _) = LakeVersions.mergeInto(s, dir,
      Seq[(Option[Int], String, String)]((None, "a", "n5"), (None, "b", "n6"))
        .toDF("k", "s", "t"), Seq("k"))
    assert(v3 == 3L && rw3 == 0)
    val afterNull = LakeVersions.read(s, dir)
    assert(afterNull.count() == 9L)
    assert(afterNull.filter(col("k").isNull).count() == 4L)
    assert(afterNull.filter(col("t").startsWith("old")).count() == 3L)
    // a string key has no envelope: the probe scans the whole face,
    // the matched key replaces and the new one inserts
    val sdir = lake()
    LakeVersions.commit(s, sdir,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("name", "n").coalesce(1)): Unit
    val (sv, srw, scarry) = LakeVersions.mergeInto(s, sdir,
      Seq(("b", 20L), ("d", 4L)).toDF("name", "n"), Seq("name"))
    assert((sv, srw, scarry) == ((2L, 1, 0)))
    val sgot = LakeVersions.read(s, sdir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sgot == Map("a" -> 1L, "b" -> 20L, "c" -> 3L, "d" -> 4L))
  }
}
