package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Catalog

/** Direct tests of the partitioned copy-on-write catalog: per-partition
  * commits, manifest versioning, snapshot retention, partition drops, and
  * vacuum of unreferenced data dirs.
  */
class CatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", IntegerType)))

  private def fresh(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft-cat").toString, "t")

  private def df(rows: (String, Int)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def readAll(c: Catalog): Set[(String, Int)] =
    c.readPartitionedOr("tbl", schema).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  /** A way of writing table `tbl`: its name, one row's commit, the full
    * read-back, and the manifest key the row lands under. Whole tables are
    * manifest tables with one fixed partition (`all`), so the commit
    * protocol tests run against both.
    */
  private case class Kind(name: String, put: (Catalog, (String, Int)) => Long,
      get: Catalog => Set[(String, Int)], key: String => String)

  private val kinds = Seq(
    Kind("whole", (c, row) => c.write("tbl", df(row)),
      c => c.readOr("tbl", schema).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet,
      _ => "all"),
    Kind("partitioned",
      (c, row) => c.overwritePartitions("tbl", df(row), "k", Seq(row._1)),
      readAll, identity))

  test("overwritePartitions touches only the named partitions") {
    val c = fresh()
    c.overwritePartitions("tbl", df("a" -> 1, "b" -> 2), "k", Seq("a", "b"))
    assert(readAll(c) == Set("a" -> 1, "b" -> 2))
    assert(c.partitionManifest("tbl") == Map("a" -> 1L, "b" -> 1L))

    // rewrite only partition a; b keeps its data version
    c.overwritePartitions("tbl", df("a" -> 10), "k", Seq("a"))
    assert(readAll(c) == Set("a" -> 10, "b" -> 2))
    assert(c.partitionManifest("tbl") == Map("a" -> 2L, "b" -> 1L))
  }

  test("a touched partition with no rows is dropped from the manifest") {
    val c = fresh()
    c.overwritePartitions("tbl", df("a" -> 1, "b" -> 2), "k", Seq("a", "b"))
    c.overwritePartitions("tbl", df(), "k", Seq("a"))
    assert(readAll(c) == Set("b" -> 2))
    assert(c.partitionManifest("tbl") == Map("b" -> 1L))
  }

  test("readPartitionsOr reads only the requested partitions") {
    val c = fresh()
    c.overwritePartitions("tbl", df("a" -> 1, "b" -> 2, "c" -> 3), "k",
      Seq("a", "b", "c"))
    val got = c.readPartitionsOr("tbl", schema, Seq("a", "c", "missing"))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "c"))
  }

  test("partition values with special characters round-trip") {
    val c = fresh()
    val weird = "SRC 1/ü=%"
    c.overwritePartitions("tbl", df(weird -> 7), "k", Seq(weird))
    assert(readAll(c) == Set(weird -> 7))
    assert(c.partitionManifest("tbl").keySet == Set(weird))
  }

  test("a reader of the previous snapshot survives one more commit") {
    val c = fresh()
    c.overwritePartitions("tbl", df("a" -> 1), "k", Seq("a"))
    val reader = c.readPartitionedOr("tbl", schema) // plan pinned to v=1 dirs
    c.overwritePartitions("tbl", df("a" -> 2), "k", Seq("a"))
    // previous data version is retained, so the pinned plan still reads
    assert(reader.collect().map(_.getInt(1)).toSeq == Seq(1))
  }

  test("vacuum removes unreferenced partition dirs") {
    val c = fresh()
    c.overwritePartitions("tbl", df("a" -> 1, "b" -> 2), "k", Seq("a", "b"))
    c.overwritePartitions("tbl", df(), "k", Seq("a")) // drop a
    assert(c.vacuumPartitions("tbl") >= 1)
    assert(readAll(c) == Set("b" -> 2))
    // idempotent
    assert(c.vacuumPartitions("tbl") == 0)
  }

  // ---------------- concurrency protocol (ADVICE r6) ----------------

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("readOr fills columns added to the schema after a snapshot was written") {
    val c = fresh()
    import spark.implicits._
    c.write("tbl", Seq(("a", 1)).toDF("k", "v")) // old 2-column layout
    val widened = StructType(schema.fields :+ StructField("extra", StringType))
    val rows = c.readOr("tbl", widened).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "a" &&
      rows.head.isNullAt(2), "pre-migration snapshot reads new column as null")
  }

  test("optimistic writeIf rejects a stale base version") {
    val c = fresh()
    val v1 = c.writeIf("tbl", df("a" -> 1), 0L)
    assert(v1 == 1L)
    intercept[graft.storage.CommitConflict] {
      c.writeIf("tbl", df("a" -> 2), 0L) // computed against the pre-v1 state
    }
    assert(c.version("tbl") == 1L)
  }

  test("two interleaved updateWith writers lose no update") {
    val c = fresh()
    val perWriter = 4
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        for (i <- 1 to perWriter)
          c.updateWith("tbl", schema)(
            cur => cur.unionByName(df(s"w$t-$i" -> i)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val keys = c.readOr("tbl", schema).collect().map(_.getString(0)).toSet
    assert(keys == (for (t <- 1 to 2; i <- 1 to perWriter) yield s"w$t-$i").toSet)
  }

  test("concurrent partitioned writers with auto-vacuum on every commit lose nothing") {
    val c = fresh()
    spark.conf.set("spark.graft.catalog.autoVacuumEvery", "1")
    try {
      val perWriter = 4
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map { t =>
        new Thread(() => {
          try {
            for (i <- 1 to perWriter) {
              var done = false
              while (!done) {
                try {
                  c.overwritePartitionsIf("tbl", df(s"p$t" -> i), "k",
                    Seq(s"p$t"), c.version("tbl"))
                  done = true
                } catch { case _: graft.storage.CommitConflict => () }
              }
            }
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      // every partition readable (no manifest pointing at vacuumed dirs)
      assert(readAll(c) == Set("p1" -> perWriter, "p2" -> perWriter))
    } finally spark.conf.unset("spark.graft.catalog.autoVacuumEvery")
  }

  test("vacuum never deletes a data version newer than the retained manifests") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val cat = new Catalog(spark, dir, "t")
    cat.overwritePartitions("tbl", df("a" -> 1), "k", Seq("a"))
    cat.overwritePartitions("tbl", df("a" -> 2), "k", Seq("a"))
    // simulate a concurrent committer's freshly renamed (not yet manifested)
    // data dir — the ADVICE r6 data-loss scenario
    val fresh5 = new org.apache.hadoop.fs.Path(
      s"$dir/t/tbl/parts/a/v=5")
    hfs(dir).mkdirs(fresh5)
    cat.vacuumPartitions("tbl", retainPrevious = true)
    assert(hfs(dir).exists(fresh5), "vacuum deleted a newer (in-flight) version")
    cat.vacuumPartitions("tbl") // manual full vacuum must keep it too
    assert(hfs(dir).exists(fresh5))
  }

  test("a stale claim from a crashed writer is taken over") {
    kinds.foreach { kind =>
      val dir = Files.createTempDirectory("graft-cat").toString
      val cat = new Catalog(spark, dir, "t")
      kind.put(cat, "a" -> 1)
      // a crashed writer left a claim for v=2, an hour old
      val fs = hfs(dir)
      val claim = new org.apache.hadoop.fs.Path(s"$dir/t/tbl/_COMMIT.v=2")
      val out = fs.create(claim, false)
      out.write("dead-uuid 0".getBytes("UTF-8")); out.close()
      fs.setTimes(claim, System.currentTimeMillis() - 3600000L, -1)
      assert(kind.put(cat, "a" -> 2) == 2L, kind.name)
      assert(kind.get(cat) == Set("a" -> 2), kind.name)
    }
  }

  test("mid-commit crash debris is reclaimed: dest dir, manifest, claim") {
    kinds.foreach { kind =>
      val dir = Files.createTempDirectory("graft-cat").toString
      val cat = new Catalog(spark, dir, "t")
      kind.put(cat, "a" -> 1)
      val fs = hfs(dir)
      val key = kind.key("a")
      // a writer crashed AFTER renaming its partition data and writing its
      // manifest for v=2, but BEFORE flipping _LATEST: readers still see
      // v=1, and the claim, data dir, and manifest are all debris
      val claim = new org.apache.hadoop.fs.Path(s"$dir/t/tbl/_COMMIT.v=2")
      val out = fs.create(claim, false)
      out.write("dead-uuid 0".getBytes("UTF-8")); out.close()
      fs.setTimes(claim, System.currentTimeMillis() - 3600000L, -1)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/t/tbl/parts/$key/v=2"))
      val mf = fs.create(new org.apache.hadoop.fs.Path(s"$dir/t/tbl/_MANIFEST.v=2"), false)
      mf.write(s"2\t$key".getBytes("UTF-8")); mf.close()
      // committed state is untouched by the debris
      assert(kind.get(cat) == Set("a" -> 1), kind.name)
      // the next writer takes over the stale claim, replaces every leftover,
      // and commits cleanly
      assert(kind.put(cat, "a" -> 7) == 2L, kind.name)
      assert(kind.get(cat) == Set("a" -> 7), kind.name)
      assert(cat.partitionManifest("tbl") == Map(key -> 2L), kind.name)
    }
  }

  test("orphaned staging dirs are aged out by the next commit's GC") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val cat = new Catalog(spark, dir, "t")
    cat.write("tbl", df("a" -> 1))
    val fs = hfs(dir)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/t/tbl/.staging-orphan")
    fs.mkdirs(orphan)
    fs.setTimes(orphan, System.currentTimeMillis() - 7200000L, -1)
    spark.conf.set("spark.graft.catalog.stagingTtlMs", "3600000")
    try cat.write("tbl", df("a" -> 2))
    finally spark.conf.unset("spark.graft.catalog.stagingTtlMs")
    assert(!fs.exists(orphan))
  }

  test("updateWith retries when quick successive commits GC its base version") {
    val c = fresh()
    c.write("tbl", df("x" -> 1))
    var sideEffectDone = false
    c.updateWith("tbl", schema) { cur =>
      if (!sideEffectDone) {
        sideEffectDone = true
        // two commits advance the table and GC the base version's files
        // before the staged write below ever evaluates `cur`
        c.write("tbl", df("y" -> 2))
        c.write("tbl", df("y" -> 3))
      }
      cur.unionByName(df("z" -> 9))
    }
    val got = c.readOr("tbl", schema).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // the retried f ran against the fresh snapshot (y -> 3)
    assert(got == Set("y" -> 3, "z" -> 9))
  }

  // ---------------- atomic group commits ----------------

  private val schemaB = StructType(Seq(
    StructField("k", StringType), StructField("s", StringType)))

  private def dfB(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("k", "s")
  }

  test("group commit lands all sub-tables atomically under one version") {
    val c = fresh()
    val v = c.overwriteGroupIf("grp", Seq(
      graft.storage.GroupBatch("left", df("a" -> 1, "b" -> 2), "k", Seq("a", "b")),
      graft.storage.GroupBatch("right", dfB("a" -> "x"), "k", Seq("a"))), -1L)
    assert(v == 1L)
    val (pv, mf) = c.snapshot("grp")
    assert(pv == 1L)
    assert(c.readGroupOr("grp", mf, "left", schema).count() == 2)
    assert(c.readGroupOr("grp", mf, "right", schemaB).collect()
      .map(_.getString(1)).toSeq == Seq("x"))

    // updating only one sub leaves the other's data dirs untouched
    c.overwriteGroupIf("grp", Seq(
      graft.storage.GroupBatch("right", dfB("a" -> "y"), "k", Seq("a"))), 1L)
    val (pv2, mf2) = c.snapshot("grp")
    assert(pv2 == 2L)
    assert(mf2("left/a") == 1L && mf2("right/a") == 2L)
    assert(c.readGroupOr("grp", mf2, "right", schemaB).collect()
      .map(_.getString(1)).toSeq == Seq("y"))
  }

  test("a conflicting group commit changes nothing — no half-updated group") {
    val c = fresh()
    c.overwriteGroupIf("grp", Seq(
      graft.storage.GroupBatch("left", df("a" -> 1), "k", Seq("a")),
      graft.storage.GroupBatch("right", dfB("a" -> "x"), "k", Seq("a"))), -1L)
    intercept[graft.storage.CommitConflict] {
      c.overwriteGroupIf("grp", Seq(
        graft.storage.GroupBatch("left", df("a" -> 10), "k", Seq("a")),
        graft.storage.GroupBatch("right", dfB("a" -> "z"), "k", Seq("a"))), 0L)
    }
    val (pv, mf) = c.snapshot("grp")
    assert(pv == 1L)
    assert(c.readGroupOr("grp", mf, "left", schema).collect()
      .map(_.getInt(1)).toSeq == Seq(1))
    assert(c.readGroupOr("grp", mf, "right", schemaB).collect()
      .map(_.getString(1)).toSeq == Seq("x"))
  }

  test("retainVersions widens the time-travel horizon consistently " +
      "(r16 verdict item 8): manifests, per-partition data versions, " +
      "vacuum") {
    spark.conf.set("spark.graft.catalog.retainVersions", "4")
    try {
      val c = fresh()
      // v1..v5 each rewrite partition a (data versions 1..5) and leave b
      c.overwritePartitions("tbl", df("a" -> 1, "b" -> 2), "k",
        Seq("a", "b"))
      (2 to 5).foreach { i =>
        c.overwritePartitions("tbl", df("a" -> (i * 10)), "k", Seq("a"))
      }
      assert(c.version("tbl") == 5L)
      // manifests v2..v5 retained (window 4), v1 GC'd
      assert(c.snapshotAt("tbl", 1L).isEmpty)
      (2L to 5L).foreach { v =>
        val mf = c.snapshotAt("tbl", v)
        assert(mf.nonEmpty, s"manifest v=$v must be retained")
        // every retained snapshot remains fully READABLE — its data dirs
        // survived the per-partition GC
        val rows = c.readManifestParts("tbl", mf, schema, mf.keys.toSeq)
          .collect().map(r => (r.getString(0), r.getInt(1))).toSet
        assert(rows == Set("a" -> (v.toInt * 10), "b" -> 2),
          s"v=$v: $rows")
      }
      // vacuum with the retention window honored: everything retained
      // stays readable afterwards
      c.vacuumPartitions("tbl", retainPrevious = true)
      (2L to 5L).foreach { v =>
        val mf = c.snapshotAt("tbl", v)
        val rows = c.readManifestParts("tbl", mf, schema, mf.keys.toSeq)
          .collect().map(r => (r.getString(0), r.getInt(1))).toSet
        assert(rows == Set("a" -> (v.toInt * 10), "b" -> 2),
          s"post-vacuum v=$v: $rows")
      }

      // the whole-table case: the same window through readVersion
      val w = fresh()
      (1 to 5).foreach(i => w.write("tbl", df("w" -> i)))
      assert(w.snapshotAt("tbl", 1L).isEmpty)
      intercept[IllegalStateException](w.readVersion("tbl", Some(1L)))
      (2L to 5L).foreach { v =>
        assert(w.readVersion("tbl", Some(v)).get.collect()
          .map(_.getInt(1)).toSeq == Seq(v.toInt), s"whole v=$v")
      }
    } finally spark.conf.unset("spark.graft.catalog.retainVersions")
  }

  test("the default retention window stays current+previous") {
    kinds.foreach { kind =>
      val dir = Files.createTempDirectory("graft-cat").toString
      val c = new Catalog(spark, dir, "t")
      val fs = hfs(dir)
      def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/t/tbl/$rel")
      (1 to 3).foreach { i =>
        assert(kind.put(c, "a" -> i) == i.toLong, kind.name)
        // every commit is a manifest commit: no <table>/v=N directory
        assert(fs.exists(p(s"_MANIFEST.v=$i")) && !fs.exists(p(s"v=$i")),
          s"${kind.name} v=$i")
      }
      assert(c.snapshotAt("tbl", 1L).isEmpty, kind.name)
      assert(c.snapshotAt("tbl", 2L).nonEmpty, kind.name)
      assert(c.snapshotAt("tbl", 3L).nonEmpty, kind.name)
      val key = kind.key("a")
      assert(!fs.exists(p(s"parts/$key/v=1")) && fs.exists(p(s"parts/$key/v=2")),
        kind.name)
    }
    // a whole table reads its retained previous version, and an emptied
    // one reads back empty under its schema
    val w = fresh()
    (1 to 3).foreach(i => w.write("tbl", df("a" -> i)))
    assert(w.readVersion("tbl", Some(2L)).get.collect()
      .map(_.getInt(1)).toSeq == Seq(2))
    assert(w.read("tbl").get.collect().map(_.getInt(1)).toSeq == Seq(3))
    w.write("tbl", df())
    assert(w.readOr("tbl", schema).count() == 0L)
    assert(w.read("tbl").get.schema.fieldNames.toSeq == Seq("k", "v"))
  }
}
