package graft.sql

import java.nio.file.Files

import graft.SparkSpec
import graft.lake.MergeTable

/** The PERSISTED table registry (r14 verdict #2): with
  * `spark.graft.catalog.dir` set, a registration survives a JVM
  * restart — DML against the name keeps working without a re-issued
  * REGISTER, under the SAME layout contract — and a re-register that
  * contradicts the persisted contract is refused. */
class PersistedCatalogSpec extends SparkSpec {

  private def withCatalog[A](body: String => A): A = {
    val cat = tmpDir("catalog").toString
    spark.conf.set("spark.graft.catalog.dir", cat)
    try body(cat)
    finally {
      spark.conf.unset("spark.graft.catalog.dir")
      GraftSql.resetInMemory()
    }
  }

  test("register survives a restart: DML + TVF reads work from the " +
      "persisted contract alone, with the full layout honored") {
    withCatalog { cat =>
      val root = tmpDir("pcat").resolve("t1").toString
      spark.sql("CREATE GRAFT TABLE pct (id BIGINT, p STRING, n BIGINT) " +
        s"AT '$root' PARTITIONED BY (p) STATS (n) BLOOM (id) " +
        "WITH DELETION VECTORS WITH OPTIMIZED WRITES")
      spark.sql("INSERT INTO pct VALUES (1, 'a', 10), (2, 'b', 20)")
      // "JVM restart": the in-memory registry dies; the catalog file
      // survives
      GraftSql.resetInMemory()
      assert(Files.exists(java.nio.file.Paths.get(cat, "pct.graft")))
      // DML without re-register — the handle rebuilds from the contract
      spark.sql("INSERT INTO pct VALUES (3, 'c', 30)")
      assert(spark.sql("SELECT count(*) FROM graft_table('pct')")
        .head.getLong(0) === 3L)
      val t = GraftSql.table("pct").get
      assert(t.partitionCols === Seq("p"), "partition layout must survive")
      assert(t.statsCols === Seq("n"), "stats contract must survive")
      assert(t.bloomCols === Seq("id"), "bloom contract must survive")
      assert(t.deletionVectors && t.optimizeWrite)
      // and the rebuilt handle WRITES under that contract: the
      // post-restart commit is partitioned and stats'd
      val byPart = spark.sql("SHOW PARTITIONS pct").collect().map(_.getString(0))
      assert(byPart.toSet === Set("a", "b", "c"))
      // a DELETE through the rebuilt handle is merge-on-read (DV),
      // proving the deletionVectors flag carried
      spark.sql("DELETE FROM pct WHERE id = 2")
      assert(spark.sql("SELECT count(*) FROM graft_table('pct')")
        .head.getLong(0) === 2L)
    }
  }

  test("a layout-contradicting re-register is refused; an identical " +
      "one is idempotent") {
    withCatalog { _ =>
      val root = tmpDir("pcat").resolve("t2").toString
      spark.sql(s"REGISTER GRAFT TABLE pcc AT '$root' " +
        "PARTITIONED BY (p) STATS (n)")
      // identical — fine
      spark.sql(s"REGISTER GRAFT TABLE pcc AT '$root' " +
        "PARTITIONED BY (p) STATS (n)")
      // contradicting (stats-less) — refused loudly
      val e = intercept[Exception] {
        spark.sql(s"REGISTER GRAFT TABLE pcc AT '$root' PARTITIONED BY (p)")
      }
      assert(e.getMessage.contains("DIFFERENT layout"),
        s"got: ${e.getMessage}")
      // Scala-side registration hits the same gate
      val e2 = intercept[Exception] {
        GraftSql.register("pcc", MergeTable(spark, root, Some("p")))
      }
      assert(e2.getMessage.contains("DIFFERENT layout"))
    }
  }

  test("DROP GRAFT TABLE deletes the persisted entry; SHOW GRAFT " +
      "TABLES lists persisted-but-unloaded names") {
    withCatalog { cat =>
      val root = tmpDir("pcat").resolve("t3").toString
      spark.sql(s"REGISTER GRAFT TABLE pcd AT '$root' STATS (n)")
      GraftSql.resetInMemory()
      // unloaded, but SHOW surfaces it from the catalog
      val shown = spark.sql("SHOW GRAFT TABLES").collect()
        .map(_.getString(0))
      assert(shown.contains("pcd"))
      spark.sql("DROP GRAFT TABLE pcd")
      assert(!Files.exists(java.nio.file.Paths.get(cat, "pcd.graft")),
        "DROP must delete the catalog entry")
      GraftSql.resetInMemory()
      assert(GraftSql.table("pcd").isEmpty,
        "after DROP + restart the name must not resolve")
    }
  }

  test("row-tracking and checksum-verification flags round-trip " +
      "through the contract (Scala-registered handle)") {
    withCatalog { _ =>
      val root = tmpDir("pcat").resolve("t4").toString
      val t = MergeTable(spark, root, Some("p"), Seq("n"))
        .withRowTracking.withChecksumVerification
      GraftSql.register("pcrt", t)
      GraftSql.resetInMemory()
      val back = GraftSql.table("pcrt").get
      assert(back.rowTracking && back.verifyOnRead)
      assert(GraftSql.contractOf(back) === GraftSql.contractOf(t),
        "the rebuilt handle's contract must be bit-identical")
    }
  }

  test("a catalog entry in the persisted contract format rebuilds an " +
      "equal handle") {
    withCatalog { cat =>
      val root = tmpDir("pcat").resolve("t6").toAbsolutePath.normalize
      // the exact bytes a registration persists, every setting
      // non-default — entries written by earlier builds keep loading
      val fixture = Seq(
        "autoCompact=1048576,3",
        "bloomCols=id",
        "ckptRetention=2,1000",
        "deletionVectors=true",
        "logStore=memory",
        "optimizeWrite=true",
        "partitionCols=p,q",
        s"path=$root",
        "pqCkptEntries=1000",
        "rowTracking=true",
        "statsCols=n,m",
        "verifyOnRead=true").mkString("\n")
      Files.createDirectories(java.nio.file.Paths.get(cat))
      Files.writeString(java.nio.file.Paths.get(cat, "pfx.graft"), fixture)
      GraftSql.resetInMemory()
      val back = GraftSql.table("pfx").get
      val want = MergeTable(spark, root.toString, Seq("p", "q"),
          Seq("n", "m"), deletionVectors = true, bloomCols = Seq("id"))
        .withLogStore(graft.lake.LogStore.Memory).withOptimizeWrite
        .withAutoCompact(1048576L, 3).withCheckpointRetention(2, 1000L)
        .withParquetCheckpointThreshold(1000L).withRowTracking
        .withChecksumVerification
      assert(back.layout === want.layout)
      assert(back.root === want.root && (back.logStore eq want.logStore))
      assert(GraftSql.contractOf(back) === fixture)
      assert(GraftSql.contractOf(want) === fixture)
    }
  }

  test("SHOW GRAFT TABLES shows a persisted-only name as it shows the " +
      "loaded handle") {
    withCatalog { _ =>
      val dir = tmpDir("pcat")
      spark.sql(s"REGISTER GRAFT TABLE psa AT '${dir.resolve("a")}' " +
        "PARTITIONED BY (p, q) WITH DELETION VECTORS WITH OPTIMIZED WRITES")
      spark.sql(s"REGISTER GRAFT TABLE psb AT '${dir.resolve("b")}' STATS (n)")
      def shown = spark.sql("SHOW GRAFT TABLES").collect()
        .filter(r => Set("psa", "psb")(r.getString(0))).toSeq
      GraftSql.resetInMemory()
      val persistedOnly = shown
      assert(persistedOnly.size === 2)
      GraftSql.table("psa"); GraftSql.table("psb")
      assert(Set("psa", "psb").subsetOf(GraftSql.registered.map(_._1).toSet))
      assert(shown === persistedOnly)
    }
  }

  test("without the conf, the registry stays in-memory-only (no " +
      "files written anywhere)") {
    val root = tmpDir("pcat").resolve("t5").toString
    spark.sql(s"REGISTER GRAFT TABLE pcm AT '$root'")
    try {
      GraftSql.resetInMemory()
      assert(GraftSql.table("pcm").isEmpty,
        "no persistence without spark.graft.catalog.dir")
    } finally GraftSql.unregister("pcm")
  }
}
