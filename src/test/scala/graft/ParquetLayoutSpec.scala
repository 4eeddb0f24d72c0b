package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ParquetLayout

/** Partitioned-layout pins (q103): the routing filter must resolve as
  * PARTITION pruning (directory-level, planning-time) — not as a
  * post-scan row filter — and the layout round-trip must be lossless.
  */
class ParquetLayoutSpec extends AnyFunSuite with SparkTestBase {

  test("a routing-column filter prunes partitions at the scan, not after it") {
    withTempDir("graft_layout_spec_") { base =>
      val layout = base.resolve("by_type").toString
      ParquetLayout.stageLayout(spark, sf, layout)
      val plan = ParquetLayout.prunedPurchases(spark, layout)
        .queryExecution.executedPlan.toString

      // the filter lives in PartitionFilters on the scan node...
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pf.exists(_.contains("purchase")), s"no partition pruning: $pf")
      // ...and event_type is NOT read from data files (it's a directory
      // key; a scan hauling it as a data column defeats the layout)
      val schemas = "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(schemas.nonEmpty)
      schemas.foreach(s => assert(!s.contains("event_type"),
        s"event_type read from data files: $s"))

      // losslessness: pruned read == direct filter on the flat table
      val pruned = ParquetLayout.prunedPurchases(spark, layout)
        .select("event_id", "user_id", "tsu", "value")
        .collect().map(_.toSeq).toSet
      val direct = Tables.eventsMicros(spark, sf)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "tsu", "value")
        .collect().map(_.toSeq).toSet
      assert(pruned == direct)
    }
  }

  test("orc interchange: lossless round trip, filter pushed to the ORC scan") {
    import org.apache.spark.sql.functions._
    withTempDir("graft_orcspec_") { base =>
      val src = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      val path = base.resolve("ev").toString
      src.write.orc(path)
      val back = spark.read.orc(path)
      // bit-lossless: same multiset of rows either direction
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      // the routing filter reaches the ORC scan as a pushed predicate
      val plan = back.filter(col("event_type") === "purchase")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("EqualTo(event_type,purchase)"), plan.take(800))
    }
  }

  /** Per-row-group (min, max) bands of `column` read straight from the
    * parquet footers of every file under `path`.
    */
  private def rowGroupBands(path: String, column: String = "tsu"): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          val stats = block.getColumns.asScala
            .find(_.getPath.toDotString == column).get.getStatistics
          (stats.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        } finally reader.close()
      }
  }

  test("q132: sort-on-write clustering makes row-group stats selective") {
    withTempDir("graft_q132spec_") { base =>
      val clustered = base.resolve("clustered").toString
      val scattered = base.resolve("scattered").toString
      ParquetLayout.stageClustered(spark, sf, clustered, 8)
      // same data, same file count, hash-scattered in time
      Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .repartition(8, col("event_id"))
        .write.parquet(scattered)

      val (plo, phi) = ParquetLayout.probeBounds(spark, sf)
      def intersecting(bands: Seq[(Long, Long)]): Int =
        bands.count { case (lo, hi) => lo < phi && hi >= plo }
      val cb = rowGroupBands(clustered)
      val sb = rowGroupBands(scattered)
      assert(cb.nonEmpty && sb.nonEmpty)
      // the mechanism: on the scattered layout (nearly) every row group
      // spans the probe window; clustering shrinks the touched set
      assert(intersecting(cb) < intersecting(sb),
        s"clustered ${intersecting(cb)}/${cb.size} vs " +
          s"scattered ${intersecting(sb)}/${sb.size} row groups intersect")
      // and the range predicate is pushed to the scan for stats skipping
      val plan = spark.read.parquet(clustered)
        .filter(col("tsu") >= plo && col("tsu") < phi)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(tsu"), plan.take(800))
    }
  }

  test("q134: compaction collapses the file count, conserves rows, and never shuffles") {
    withTempDir("graft_q134spec_") { base =>
      val frag = base.resolve("frag").toString
      val comp = base.resolve("comp").toString
      val src = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      src.repartition(64).write.parquet(frag)
      val (_, nFrag) = ParquetLayout.dirStats(spark, frag)
      assert(nFrag == 64)
      ParquetLayout.compact(spark, frag, comp, targetBytes = 4L << 20)
      val (_, nComp) = ParquetLayout.dirStats(spark, comp)
      assert(nComp < nFrag / 4,
        s"compaction must collapse the file count: $nFrag -> $nComp")
      // lossless: same multiset of rows
      val back = spark.read.parquet(comp)
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      // the compactor plan is coalesce-only — no exchange anywhere
      val plan = spark.read.parquet(frag).coalesce(1)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
    }
  }

  test("q155: bucketed layout lands one file per bucket; the join never exchanges") {
    withTempDir("graft_q155spec_") { base =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (ordersTbl, lineitemTbl) = ParquetLayout.bucketedNames(base)
      try {
        ParquetLayout.stageBucketed(spark, sf, base)
        // the pre-write repartition aligns task hash placement with the
        // bucket-file rule: exactly one file per bucket, no slivers
        val (_, nOrderFiles) =
          ParquetLayout.dirStats(spark, base.resolve("b_orders").toString)
        val (_, nLineFiles) =
          ParquetLayout.dirStats(spark, base.resolve("b_lineitem").toString)
        assert(nOrderFiles == 8 && nLineFiles == 8,
          s"expected 8 bucket files each, got $nOrderFiles / $nLineFiles")
        val joined = ParquetLayout.bucketedJoined(spark, base)
        val plan = joined.queryExecution.executedPlan.toString
        val ji = plan.indexOf("SortMergeJoin")
        assert(ji >= 0, s"expected a sort-merge join of bucketed tables:\n$plan")
        assert(!plan.substring(ji).contains("Exchange"),
          s"bucketed join must not shuffle either input:\n$plan")
        // parity: the layout is semantically invisible
        val flat = Tables.lineitem(spark, sf)
          .join(Tables.orders(spark, sf),
            col("l_orderkey") === col("o_orderkey")).count()
        assert(joined.count() == flat)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(s"DROP TABLE IF EXISTS $ordersTbl")
        spark.sql(s"DROP TABLE IF EXISTS $lineitemTbl")
      }
    }
  }

  test("q155 staging names are per-invocation: interleaved stagings never collide") {
    // the round-9 wart: fixed graft_q155_* catalog names meant a spec
    // and a query (or two sessions on one metastore) clobbered each
    // other; names are now scoped to the unique staging dir
    withTempDir("graft_q155spec_a_") { b1 =>
      withTempDir("graft_q155spec_b_") { b2 =>
        val (o1, l1) = ParquetLayout.bucketedNames(b1)
        val (o2, l2) = ParquetLayout.bucketedNames(b2)
        try {
          assert(o1 != o2 && l1 != l2)
          ParquetLayout.stageBucketed(spark, sf, b1)
          ParquetLayout.stageBucketed(spark, sf, b2) // interleaved: b1 still live
          val n1 = ParquetLayout.bucketedJoined(spark, b1).count()
          val n2 = ParquetLayout.bucketedJoined(spark, b2).count()
          assert(n1 == n2 && n1 > 0)
        } finally {
          Seq(o1, l1, o2, l2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        }
      }
    }
  }

  test("q103 leaves no scratch layout behind") {
    import scala.jdk.CollectionConverters._
    def scratch(prefix: String): Set[String] = {
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSet
      finally s.close()
    }
    // q128's run tree goes through the same detaching scope
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "graft_q103_" -> (() => ParquetLayout.partitionPrunedRevenue(spark, sf)),
      "graft_q128_run_" ->
        (() => graft.streaming.StreamingQueries.streamingRestartResume(spark, sf))
    ).foreach { case (prefix, query) =>
      val before = scratch(prefix)
      val rows = query().count()
      assert(rows > 0, prefix)
      assert((scratch(prefix) -- before).isEmpty, prefix)
    }
  }
  test("q165: z-order keeps row-group stats selective on BOTH probe dimensions") {
    withTempDir("graft_q165spec_") { base =>
      val zpath = base.resolve("zorder").toString
      val timeOnly = base.resolve("timeonly").toString
      ParquetLayout.stageZOrdered(spark, sf, zpath, 16)
      ParquetLayout.stageClustered(spark, sf, timeOnly, 16)
      val (pul, puh, ptl, pth) = ParquetLayout.zProbeBounds(spark, sf)
      def hits(bands: Seq[(Long, Long)], lo: Long, hi: Long): Int =
        bands.count { case (mn, mx) => mn < hi && mx >= lo }
      val zU = rowGroupBands(zpath, "user_id")
      val cU = rowGroupBands(timeOnly, "user_id")
      assert(zU.nonEmpty && cU.nonEmpty)
      // the mechanism: a time-only cluster leaves every row group
      // spanning the user domain — the user band skips nothing there,
      // while the z layout confines it
      assert(hits(zU, pul, puh) < hits(cU, pul, puh),
        s"z ${hits(zU, pul, puh)}/${zU.size} vs time-only " +
          s"${hits(cU, pul, puh)}/${cU.size} row groups intersect the user band")
      // and z has not given up time selectivity: the time band still
      // skips row groups
      val zT = rowGroupBands(zpath, "tsu")
      assert(hits(zT, ptl, pth) < zT.size,
        s"time band must skip some z row groups: ${hits(zT, ptl, pth)}/${zT.size}")
      // layout is semantically invisible: same rows through the probe
      val viaZ = spark.read.parquet(zpath)
        .filter(col("user_id") >= pul && col("user_id") < puh
          && col("tsu") >= ptl && col("tsu") < pth).count()
      val flat = Tables.eventsMicros(spark, sf)
        .filter(col("user_id") >= pul && col("user_id") < puh
          && col("tsu") >= ptl && col("tsu") < pth).count()
      assert(viaZ == flat && viaZ > 0)
    }
  }
  test("q166: the dim filter prunes fact partitions at RUNTIME via a dynamicpruning subquery") {
    withTempDir("graft_q166spec_") { base =>
      val factPath = base.resolve("events_by_type").toString
      val dimPath = base.resolve("type_dim").toString
      ParquetLayout.stageLayout(spark, sf, factPath)
      val sess = spark
      import sess.implicits._
      ParquetLayout.typeCategories.toDF("event_type", "category")
        .coalesce(1).write.parquet(dimPath)
      val joined = ParquetLayout.dppJoined(spark, factPath, dimPath)
      val plan = joined.queryExecution.executedPlan.toString
      // the fact scan's PartitionFilters must carry the runtime
      // subquery — the dim's category filter can never be pushed
      // statically (the fact has no category column)
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pf.exists(_.contains("dynamicpruning")),
        s"no dynamic partition pruning in PartitionFilters: $pf")
      // parity: runtime pruning is semantically invisible
      val conv = ParquetLayout.typeCategories
        .collect { case (t, "conversion") => t }
      val flat = Tables.eventsMicros(spark, sf)
        .filter(col("event_type").isin(conv: _*)).count()
      assert(joined.count() == flat && flat > 0)
    }
  }

  /** (file name, size) listing of one partition directory. */
  private def partFiles(path: String, part: String): Set[(String, Long)] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/event_type=$part")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen)).toSet
  }

  test("q167: dynamic overwrite replaces ONLY the replayed partition; static would truncate") {
    withTempDir("graft_q167spec_") { base =>
      val path = base.resolve("events_by_type").toString
      ParquetLayout.stageLayout(spark, sf, path)
      val others = Seq("view", "click", "signup", "error")
      val before = others.map(t => t -> partFiles(path, t)).toMap
      val purchaseBefore = partFiles(path, "purchase")
      ParquetLayout.replayPartition(spark, sf, path, "purchase")
      // untouched partitions: byte-identical file listings
      others.foreach(t => assert(partFiles(path, t) == before(t),
        s"partition $t was touched by the backfill"))
      // the replayed partition really was rewritten (fresh task files)
      assert(partFiles(path, "purchase") != purchaseBefore)
      // idempotence: same rows after the replay as before it
      val back = spark.read.parquet(path)
      val src = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)

      // the contrast that makes dynamic mode load-bearing: a STATIC
      // overwrite of the same slice truncates every other partition
      val path2 = base.resolve("static_case").toString
      ParquetLayout.stageLayout(spark, sf, path2)
      Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .filter(col("event_type") === "purchase")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("event_type").parquet(path2)
      val types = spark.read.parquet(path2)
        .select("event_type").distinct().collect().map(_.getString(0)).toSet
      assert(types == Set("purchase"),
        s"static overwrite should have truncated to the replayed slice: $types")
    }
  }

  test("q170: avro interchange round trip is lossless") {
    withTempDir("graft_q170spec_") { base =>
      val src = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      val path = base.resolve("ev").toString
      src.write.format("org.apache.spark.sql.avro.AvroFileFormat").save(path)
      val back = spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(path)
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      // schema survives: same Spark types either side of the row format
      assert(back.schema == src.schema)
    }
  }

  test("q217: jsonl interchange round trip is lossless under an explicit schema") {
    withTempDir("graft_q217spec_") { base =>
      val src = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      val path = base.resolve("ev").toString
      src.write.format("json").save(path)
      val back = spark.read.schema(src.schema).json(path)
      // longs exact, doubles shortest-round-trip exact, nulls preserved
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      assert(back.schema == src.schema)
    }
  }

  test("q171: a manifest commit is metadata-only and old snapshots stay readable") {
    withTempDir("graft_q171spec_") { base =>
      val data = base.resolve("data").toString
      ParquetLayout.stageLayout(spark, sf, data)
      val manifests = java.nio.file.Files.createDirectory(
        base.resolve("manifests"))
      val v1Files = ParquetLayout.listDataFiles(spark, data)
      assert(v1Files.nonEmpty)
      ParquetLayout.writeManifest(manifests, 1, v1Files)
      val v1Before = ParquetLayout.snapshotRead(spark, data, manifests, 1)
        .count()

      // the v2 commit: purge the error slice by dropping its files
      // from the manifest — no data write, no delete
      ParquetLayout.writeManifest(manifests, 2,
        v1Files.filterNot(_.contains("event_type=error")))

      // metadata-only: the data directory is bit-for-bit unchanged
      assert(ParquetLayout.listDataFiles(spark, data) == v1Files,
        "a snapshot commit must not touch data files")
      // snapshot semantics: v2 sees no error rows, everything else intact
      val v2 = ParquetLayout.snapshotRead(spark, data, manifests, 2)
      val errRows = Tables.eventsMicros(spark, sf)
        .filter(col("event_type") === "error").count()
      assert(v2.filter(col("event_type") === "error").count() == 0)
      assert(v2.count() == v1Before - errRows && errRows > 0)
      // time travel: v1 read AFTER the v2 commit still sees everything
      val v1After = ParquetLayout.snapshotRead(spark, data, manifests, 1)
      assert(v1After.count() == v1Before)
      assert(v1After.filter(col("event_type") === "error").count() == errRows)
    }
  }

  test("q172: manifest stats prune files on the clustered layout, nothing on scattered") {
    withTempDir("graft_q172spec_") { base =>
      val clustered = base.resolve("clustered").toString
      val scattered = base.resolve("scattered").toString
      ParquetLayout.stageClustered(spark, sf, clustered, 8)
      Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .repartition(8, col("event_id"))
        .write.parquet(scattered)
      val (plo, phi) = ParquetLayout.probeBounds(spark, sf)

      // the mechanism: on the clustered layout the manifest alone
      // excludes most files; the SAME stats prune nothing when the
      // layout scatters every file across the whole domain
      val cStats = ParquetLayout.fileStats(spark, clustered, "tsu")
      val sStats = ParquetLayout.fileStats(spark, scattered, "tsu")
      val cPicked = ParquetLayout.pruneByStats(cStats, plo, phi)
      val sPicked = ParquetLayout.pruneByStats(sStats, plo, phi)
      assert(cStats.size == 8 && sStats.size == 8)
      assert(cPicked.size <= 2,
        s"clustered manifest should keep ~1 slice, kept ${cPicked.size}/8")
      assert(sPicked.size == 8,
        s"scattered layout gives stats no leverage, kept ${sPicked.size}/8")

      // correctness: the pruned read sees exactly the probe's rows
      val viaManifest = spark.read.parquet(cPicked: _*)
        .filter(col("tsu") >= plo && col("tsu") < phi).count()
      val flat = Tables.eventsMicros(spark, sf)
        .filter(col("tsu") >= plo && col("tsu") < phi).count()
      assert(viaManifest == flat && flat > 0)
    }
  }

  test("q165 z-value property: column kernel matches a reference Morton interleave") {
    val sess = spark
    import sess.implicits._
    def ref(u: Long, t: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((u >> i) & 1L) << (2 * i + 1)) | (((t >> i) & 1L) << (2 * i))
      }
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = cases.toDF("u", "t")
      .select(ParquetLayout.zValue(col("u"), col("t")).as("z"))
      .as[Long].collect().toSeq
    assert(got == cases.map { case (u, t) => ref(u, t) })
    // interleave is a bijection on 16+16 bits: no two cases collide
    assert(got.distinct.size == cases.distinct.size)
  }

  test("q173: the delete commit is O(deleted keys), data files untouched, " +
    "and the merge-on-read scan drops exactly the deleted rows") {
    withTempDir("graft_q173spec_") { base =>
      val data = base.resolve("data").toString
      ParquetLayout.stageClustered(spark, sf, data, 4)
      val filesBefore = ParquetLayout.listDataFiles(spark, data)
      val dv = base.resolve("deletes").toString
      ParquetLayout.commitDeleteVector(spark, data, dv)
      // the commit wrote the sidecar only — no data file rewritten
      assert(ParquetLayout.listDataFiles(spark, data) == filesBefore)
      // the DV holds exactly the predicate's row keys
      val dvIds = spark.read.parquet(dv)
        .orderBy("event_id").collect().map(_.getLong(0)).toSeq
      val expected = Tables.eventsMicros(spark, sf)
        .filter(ParquetLayout.dvDeletePredicate)
        .select("event_id").orderBy("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(dvIds == expected && dvIds.nonEmpty)
      // merge-on-read: survivors = everything minus the DV, and no
      // deleted user remains
      val read = ParquetLayout.dvRead(spark, data, dv)
      val total = Tables.eventsMicros(spark, sf).count()
      assert(read.count() == total - dvIds.size)
      assert(read.filter(ParquetLayout.dvDeletePredicate).count() == 0)
      // plan: the DV broadcasts into a LeftAnti hash join — the fact
      // side is never exchanged for the delete
      val plan = read.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"expected broadcast anti-join, got:\n${plan.take(600)}")
    }
  }

  test("q178: the manifest diff reads ONLY changed files and reports " +
    "exactly the commit's deletes and inserts") {
    withTempDir("graft_q178spec_") { base =>
      val data = base.resolve("data").toString
      ParquetLayout.stageLayout(spark, sf, data)
      val manifests = java.nio.file.Files.createDirectory(
        base.resolve("manifests"))
      val v1Files = ParquetLayout.listDataFiles(spark, data)
      ParquetLayout.writeManifest(manifests, 1, v1Files)
      // the commit: archive the error slice (drop + relabeled add)
      val errFiles = v1Files.filter(_.contains("event_type=error"))
      spark.read.option("basePath", data).parquet(errFiles: _*)
        .withColumn("event_type", lit("error_archived"))
        .write.mode("append").partitionBy("event_type").parquet(data)
      val v2Files = ParquetLayout.listDataFiles(spark, data)
        .filterNot(errFiles.contains)
      ParquetLayout.writeManifest(manifests, 2, v2Files)

      val diff = ParquetLayout.snapshotDiff(spark, data, manifests, 1, 2)
      // I/O bound: the scan's file set is exactly the changed files —
      // the untouched partitions are never opened
      val changed = (v1Files.toSet -- v2Files.toSet) ++
        (v2Files.toSet -- v1Files.toSet)
      def norm(f: String) = new java.net.URI(f).getPath
      val opened = diff.inputFiles.map(norm).toSet
      assert(opened == changed.map(norm),
        s"diff opened ${opened.size} files, expected ${changed.size} changed")
      // row accounting: deletes = the error slice, inserts = the same
      // rows under the new label, nothing from untouched partitions
      val errRows = Tables.eventsMicros(spark, sf)
        .filter(col("event_type") === "error").count()
      assert(errRows > 0)
      assert(diff.filter(col("change_type") === "delete").count() == errRows)
      assert(diff.filter(col("change_type") === "insert").count() == errRows)
      assert(diff.filter(col("change_type") === "delete")
        .filter(col("event_type") =!= "error").count() == 0)
      assert(diff.filter(col("change_type") === "insert")
        .filter(col("event_type") =!= "error_archived").count() == 0)
      // identical manifests → structurally empty feed, schema intact
      val empty = ParquetLayout.snapshotDiff(spark, data, manifests, 2, 2)
      assert(empty.count() == 0 && empty.columns.contains("change_type"))
    }
  }

  test("q180: the fine spec directory-prunes the probe day, the coarse " +
    "spec row-filters it, and the straddling day loses nothing") {
    withTempDir("graft_q180spec_") { base =>
      val ev = Tables.eventsMicros(spark, sf)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      val cut = ParquetLayout.evolutionCut(spark, sf)
      val cutDay = cut / ParquetLayout.usPerDay
      val coarsePath = base.resolve("coarse").toString
      ev.filter(col("tsu") < cut)
        .write.partitionBy("event_type").parquet(coarsePath)
      val finePath = base.resolve("fine").toString
      ev.filter(col("tsu") >= cut)
        .withColumn("day", expr(s"tsu div ${ParquetLayout.usPerDay}"))
        .write.partitionBy("event_type", "day").parquet(finePath)
      val probed = ParquetLayout.evolvedTable(spark, coarsePath, finePath)
        .filter(col("day") === cutDay)
      // the straddle: BOTH specs contribute rows to the probe day — a
      // one-spec reader would lose the morning or the afternoon
      assert(probed.filter(col("tsu") < cut).count() > 0)
      assert(probed.filter(col("tsu") >= cut).count() > 0)
      // parity with the flat table
      val flat = Tables.eventsMicros(spark, sf)
        .filter(expr(s"tsu div ${ParquetLayout.usPerDay}") === cutDay)
        .count()
      assert(probed.count() == flat && flat > 0)
      // the fine scan resolves the day probe as PARTITION pruning
      val plan = probed.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pf.exists(f => f.contains("day") && f.contains(cutDay.toString)),
        s"fine spec not directory-pruned on day: $pf")
    }
  }

  test("q179: staged batches are invisible until the publish commit, " +
    "rejected batches forever, and vacuum reclaims them") {
    withTempDir("graft_q179spec_") { base =>
      val data = base.resolve("data").toString
      val orders = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val nF = orders.filter(col("o_orderstatus") === "F").count()
      val nO = orders.filter(col("o_orderstatus") === "O").count()
      orders.filter(col("o_orderstatus") === "F").write.parquet(data)
      val manifests = java.nio.file.Files.createDirectory(
        base.resolve("manifests"))
      ParquetLayout.writeManifest(manifests, 1,
        ParquetLayout.listDataFiles(spark, data))

      val good = ParquetLayout.stageBatch(spark, data,
        orders.filter(col("o_orderstatus") === "O"))
      val bad = ParquetLayout.stageBatch(spark, data,
        orders.filter(col("o_orderstatus") === "F"
          && col("o_orderkey") % 10 === 0))
      assert(good.nonEmpty && bad.nonEmpty)
      // isolation: the live snapshot does not see staged files
      assert(ParquetLayout.snapshotRead(spark, data, manifests, 1).count()
        == nF)

      // publish only the clean batch
      ParquetLayout.writeManifest(manifests, 2,
        ParquetLayout.readManifest(manifests, 1) ++ good)
      val v2 = ParquetLayout.snapshotRead(spark, data, manifests, 2)
      assert(v2.count() == nF + nO)
      // the rejected replay is not in v2: every key appears once
      assert(v2.groupBy("o_orderkey").count()
        .filter(col("count") > 1).count() == 0)

      // the rejected batch is exactly the orphan set vacuum reclaims
      val orphans = ParquetLayout.vacuumTo(spark, data,
        ParquetLayout.readManifest(manifests, 2).toSet)
      assert(orphans.toSet == bad.toSet)
      assert(ParquetLayout.snapshotRead(spark, data, manifests, 2).count()
        == nF + nO)
    }
  }

  test("q176: vacuum deletes exactly the unreachable files; the live " +
    "snapshot is untouched and the expired one really dies") {
    withTempDir("graft_q176spec_") { base =>
      val data = base.resolve("data").toString
      ParquetLayout.stageLayout(spark, sf, data)
      val manifests = java.nio.file.Files.createDirectory(
        base.resolve("manifests"))
      val v1Files = ParquetLayout.listDataFiles(spark, data)
      ParquetLayout.writeManifest(manifests, 1, v1Files)
      val v2Files = v1Files.filterNot(_.contains("event_type=error"))
      ParquetLayout.writeManifest(manifests, 2, v2Files)
      val liveBefore = ParquetLayout
        .snapshotRead(spark, data, manifests, 2).count()

      val orphans = ParquetLayout.vacuumTo(spark, data, v2Files.toSet)
      // exactly the files only v1 references — nothing more, nothing less
      assert(orphans.toSet == v1Files.toSet -- v2Files.toSet)
      assert(orphans.nonEmpty && orphans.forall(_.contains("event_type=error")))
      // gone from disk; every reachable file still present
      assert(ParquetLayout.listDataFiles(spark, data).toSet == v2Files.toSet)
      // the live snapshot reads identically after the vacuum
      assert(ParquetLayout.snapshotRead(spark, data, manifests, 2).count()
        == liveBefore)
      // the expired snapshot is really dead: its manifest names files
      // that no longer exist
      intercept[Exception] {
        ParquetLayout.snapshotRead(spark, data, manifests, 1).count()
      }
    }
  }
}
