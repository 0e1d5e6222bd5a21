package graft

import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** SQL DDL against the custom catalog: create/insert/select/time-travel
  * /rename/drop, all through `spark.sql` with no DataFrame-API escape
  * hatch — the full metastore-shaped lifecycle over the graft-log
  * format. */
class GraftCatalogSpec extends SparkSpec {
  private val wh =
    java.nio.file.Files.createTempDirectory("graft-cat-wh").toString

  private def withCatalog[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    try body
    finally {
      spark.conf.unset("spark.sql.catalog.graftcat.warehouse")
      spark.conf.unset("spark.sql.catalog.graftcat")
    }
  }

  test("identifier traversal is rejected on READ and CALL paths — " +
      "nothing escapes the warehouse root") {
    withCatalog {
      // a decoy graft table OUTSIDE the warehouse that traversal
      // would reach
      val outside = java.nio.file.Files
        .createTempDirectory("graft-escape").toString
      spark.range(3).write.format("graft.sources.GraftLogSource")
        .option("path", s"$outside/evil").mode("overwrite").save()
      val rel = java.nio.file.Paths.get(wh).relativize(
        java.nio.file.Paths.get(s"$outside/evil")).toString
      // read path: SELECT via a backquoted traversal identifier must
      // fail the identifier check, not read the outside table
      val e1 = intercept[Exception](
        spark.sql(s"SELECT * FROM graftcat.`$rel`").collect())
      assert(e1.getMessage != null, e1.toString)
      // procedure path: vacuum DELETES files — a traversal identifier
      // must never address an arbitrary path
      val e2 = intercept[Exception](spark.sql(
        s"CALL graftcat.system.vacuum(`table` => '$rel')").collect())
      assert(e2.getMessage.contains("invalid table identifier"),
        e2.getMessage)
      // the decoy is untouched
      assert(spark.read.format("graft.sources.GraftLogSource")
        .option("path", s"$outside/evil").load().count() == 3)
    }
  }

  test("view identifiers are traversal-guarded: a backquoted name " +
      "cannot read, drop, or rename-move a .view file outside the " +
      "warehouse") {
    withCatalog {
      // a decoy view file OUTSIDE the warehouse that traversal would
      // delete or overwrite
      val outside = java.nio.file.Files
        .createTempDirectory("graft-view-escape")
      val decoy = outside.resolve("evil.view")
      java.nio.file.Files.writeString(decoy, "sql=eA==")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbv")
      spark.sql(
        "CREATE VIEW graftcat.dbv.inside AS SELECT 1 AS one")
      // the name part is relative to the NAMESPACE dir (the rule only
      // intercepts 3-part identifiers, so the traversal rides the name)
      val rel = java.nio.file.Paths.get(wh, "dbv").relativize(
        outside.resolve("evil")).toString
      // DROP via a traversal identifier must fail the check, never
      // delete the outside file (delete() returning false would have
      // silently no-opped here — but a '..' name that RESOLVES would
      // delete; the guard must reject it loudly)
      val e1 = intercept[Exception](
        spark.sql(s"DROP VIEW graftcat.dbv.`$rel`"))
      assert(chainOf(e1).exists(_.contains("invalid graft identifier")),
        chainOf(e1).toString)
      assert(java.nio.file.Files.exists(decoy), "decoy must survive")
      // RENAME onto a traversal target must fail, not move the .view
      // payload outside the warehouse
      val e2 = intercept[Exception](spark.sql(
        s"ALTER VIEW graftcat.dbv.inside RENAME TO graftcat.dbv.`$rel`"))
      assert(chainOf(e2).exists(m =>
          m.contains("invalid graft identifier") ||
          m.contains("invalid graft view name")),
        chainOf(e2).toString)
      // rename-to-hidden is creation policy, same as CREATE VIEW
      val e3 = intercept[Exception](spark.sql(
        "ALTER VIEW graftcat.dbv.inside RENAME TO graftcat.dbv.`.sneaky`"))
      assert(chainOf(e3).exists(_.contains("invalid graft view name")),
        chainOf(e3).toString)
      // the inside view still resolves
      assert(spark.sql("SELECT * FROM graftcat.dbv.inside")
        .head.getInt(0) == 1)
    }
  }

  private def chainOf(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ chainOf(t.getCause)

  test("CALL with an explicit NULL argument fails with the parameter " +
      "name, not an NPE") {
    withCatalog {
      val e = intercept[Exception](spark.sql(
        "CALL graftcat.system.compact(`table` => CAST(NULL AS STRING))")
        .collect())
      assert(chainOf(e).exists(m => m.contains("argument 'table'") &&
          m.contains("NULL")),
        chainOf(e).toString)
    }
  }

  test("full SQL lifecycle: create, insert, select, rename, drop") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
      spark.sql("CREATE TABLE graftcat.db.t (id BIGINT, v DOUBLE)")
      spark.sql(
        "INSERT INTO graftcat.db.t SELECT id, CAST(id AS DOUBLE)/2 FROM range(100)")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graftcat.db.t")
        .head.getLong(0) == 100)
      spark.sql(
        "INSERT INTO graftcat.db.t SELECT id, 0.0 FROM range(50)")
      assert(spark.table("graftcat.db.t").count() == 150)
      assert(spark.sql("SELECT SUM(v) FROM graftcat.db.t")
        .head.getDouble(0) == (0 until 100).map(_ / 2.0).sum)
      // catalog listing sees it
      val tables = spark.sql("SHOW TABLES IN graftcat.db")
        .select("tableName").collect().map(_.getString(0))
      assert(tables.contains("t"))
      // the rename target resolves WITHIN the table's catalog
      spark.sql("ALTER TABLE graftcat.db.t RENAME TO db.t2")
      assert(spark.table("graftcat.db.t2").count() == 150)
      spark.sql("DROP TABLE graftcat.db.t2")
      val after = spark.sql("SHOW TABLES IN graftcat.db")
        .select("tableName").collect().map(_.getString(0))
      assert(!after.contains("t2") && !after.contains("t"))
    }
  }

  test("insert commits are manifest-versioned snapshots") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db2")
      spark.sql("CREATE TABLE graftcat.db2.s (id BIGINT, tag STRING)")
      spark.sql(
        "INSERT INTO graftcat.db2.s SELECT id, 'a' FROM range(10)")
      spark.sql(
        "INSERT INTO graftcat.db2.s SELECT id, 'b' FROM range(20)")
      val dir = s"$wh/db2/s"
      // CREATE's manifest carries no entries, so the first INSERT is
      // version 0 — its snapshot holds that insert alone
      val v0 = spark.read.format("graft.sources.GraftLogSource")
        .option("path", dir).option("asOfVersion", "0").load()
      assert(v0.count() == 10)
      assert(spark.table("graftcat.db2.s").count() == 30)
      // the same snapshot through SQL time-travel syntax
      assert(spark.sql(
        "SELECT COUNT(*) FROM graftcat.db2.s VERSION AS OF 0")
        .head.getLong(0) == 10)
      // change data feed: only the second insert's rows
      val cdf = spark.read.format("graft.sources.GraftLogSource")
        .option("path", dir).option("changesFromVersion", "0").load()
      assert(cdf.count() == 20,
        "the change feed from version 0 must hold insert 2 alone")
      // metadata table: one manifest row per committed file, versions 0/1
      val files = spark.sql(
        "SELECT version, file FROM graftcat.db2.`s$files`")
      val versions = files.select("version").collect()
        .map(_.getLong(0)).toSet
      assert(versions == Set(0L, 1L), s"got $versions")
      assert(files.count() ==
        graft.sources.GraftLog.committedFiles(dir).size)
    }
  }

  test("SQL DELETE FROM rewrites only stats-affected files") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db3")
      spark.sql("CREATE TABLE graftcat.db3.d (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.db3.d
        SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 2
        FROM range(0, 4000)""")
      spark.sql("DELETE FROM graftcat.db3.d WHERE id >= 500 AND id < 700")
      val t = spark.table("graftcat.db3.d")
      assert(t.count() == 3800)
      assert(t.filter(col("id") >= 500 && col("id") < 700).count() == 0)
      assert(t.agg(sum(col("v"))).head.getLong(0) ==
        2 * ((0L until 4000L).sum - (500L until 700L).sum))
      // stats targeting: of the 4 range files, at most 2 carry a DV
      val dvFiles = graft.sources.GraftLog
        .entriesAsOf(s"$wh/db3/d", Long.MaxValue)
        .count(e => graft.sources.GraftLog.dvOf(e).isDefined)
      assert(dvFiles >= 1 && dvFiles <= 2, s"dvFiles=$dvFiles")
      // NULL-predicate rows survive (DELETE drops only TRUE rows)
      spark.sql("ALTER TABLE graftcat.db3.d ADD COLUMN w BIGINT")
      spark.sql("DELETE FROM graftcat.db3.d WHERE w > 0")
      assert(spark.table("graftcat.db3.d").count() == 3800,
        "rows where the predicate is NULL must survive a DELETE")
    }
  }

  test("SQL ALTER TABLE ADD COLUMN: old rows read NULL, new insert fills") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db4")
      spark.sql("CREATE TABLE graftcat.db4.a (id BIGINT)")
      spark.sql("INSERT INTO graftcat.db4.a SELECT id FROM range(100)")
      spark.sql("ALTER TABLE graftcat.db4.a ADD COLUMN score BIGINT")
      spark.sql(
        "INSERT INTO graftcat.db4.a SELECT id, id * 3 FROM range(100, 150)")
      val t = spark.table("graftcat.db4.a")
      assert(t.columns.toSeq == Seq("id", "score"))
      assert(t.count() == 150)
      assert(t.filter(col("score").isNull).count() == 100)
      assert(t.agg(sum(col("score"))).head.getLong(0) ==
        (100L until 150L).map(_ * 3).sum)
      // lossy type changes reject loudly (rename/drop/widen have
      // their own contracts — ColumnEvolutionSpec)
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graftcat.db4.a ALTER COLUMN score TYPE INT")
      }
      assert(e.getMessage.contains("lossless widenings") ||
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e.getMessage.toLowerCase.contains("unsupported"))
      // NOT NULL on an added column would be instantly violated by
      // every pre-alter row — reject, never silently downgrade
      val e2 = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graftcat.db4.a ADD COLUMN strict BIGINT NOT NULL")
      }
      assert(e2.getMessage.contains("nullable"))
    }
  }

  test("TIMESTAMP AS OF resolves commit stamps; $history lists versions") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db5")
      spark.sql("CREATE TABLE graftcat.db5.h (id BIGINT)")
      spark.sql("INSERT INTO graftcat.db5.h SELECT id FROM range(10)")
      spark.sql("INSERT INTO graftcat.db5.h SELECT id FROM range(25)")
      val hist = spark.sql(
        """SELECT version, ts_millis, rows_added
           FROM graftcat.db5.`h$history` ORDER BY version""").collect()
      assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
      assert(hist.map(_.getLong(2)).toSeq == Seq(10L, 25L))
      val Seq(ts0, ts1) = hist.map(_.getLong(1)).toSeq
      assert(ts0 < ts1, "stamps must be strictly monotone")
      val zone = java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone"))
      def fmt(ms: Long): String =
        java.time.Instant.ofEpochMilli(ms).atZone(zone)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftcat.db5.h TIMESTAMP AS OF '${fmt(ts0)}'")
        .head.getLong(0) == 10)
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftcat.db5.h TIMESTAMP AS OF '${fmt(ts1)}'")
        .head.getLong(0) == 35)
      // a timestamp before the first commit fails loudly
      val e = intercept[Exception] {
        spark.sql(
          s"SELECT COUNT(*) FROM graftcat.db5.h TIMESTAMP AS OF '${fmt(ts0 - 1)}'")
          .collect()
      }
      assert(e.getMessage.contains("predates"))
    }
  }

  test("every $suffix metadata table is a driver-local scan: " +
      "LocalTableScan in the plan, no Spark job for SELECT *") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.meta")
      spark.sql("CREATE TABLE graftcat.meta.t (id BIGINT)")
      spark.sql("INSERT INTO graftcat.meta.t SELECT id FROM range(5)")
      for (suffix <- Seq("files", "stats", "cdc", "history", "partitions",
          "refs", "txns", "branches")) {
        val query = s"SELECT * FROM graftcat.meta.`t$$$suffix`"
        val plan = spark.sql(query).queryExecution.executedPlan
        assert(plan.collect { case s: LocalTableScanExec => s }.nonEmpty,
          s"$suffix: $plan")
        assert(plan.collect { case s: BatchScanExec => s }.isEmpty,
          s"$suffix: $plan")
        assert(jobsDuring(spark.sql(query).collect()) == 0, suffix)
      }
    }
  }

  test("SQL UPDATE: copy-on-write, rewrite bounded by manifest stats") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db6")
      spark.sql("CREATE TABLE graftcat.db6.u (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.db6.u
        SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id
        FROM range(0, 8000)""")
      spark.sql(
        "UPDATE graftcat.db6.u SET v = -v WHERE id >= 1000 AND id < 1500")
      // values: v negated exactly on [1000, 1500), rows preserved
      val r = spark.sql(
        "SELECT COUNT(*), SUM(v), SUM(id) FROM graftcat.db6.u").head
      assert(r.getLong(0) == 8000)
      assert(r.getLong(1) == 31996000L - 2 * 624750L)
      assert(r.getLong(2) == 31996000L)
      // the pushed condition reached the COW scan as a group filter:
      // only the file whose [min, max] overlaps [1000, 1500) rewrote
      val removes = spark.sql(
        """SELECT COUNT(*) FROM graftcat.db6.`u$files`
           WHERE action = 'remove'""").head.getLong(0)
      assert(removes >= 1 && removes <= 2,
        s"expected a stats-bounded rewrite of <=2 of 4 files, got $removes")
      // the pre-update snapshot (version 0) is untouched history
      assert(spark.sql(
        "SELECT SUM(v) FROM graftcat.db6.u VERSION AS OF 0")
        .head.getLong(0) == 31996000L)
    }
  }

  test("a SQL UPDATE whose scanned file gains a DV mid-job aborts " +
      "retryably and the row stays hidden") {
    import graft.sources.{GraftConcurrentModificationException, GraftLog,
      GraftLogDv, LogEntry}
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.race")
      spark.sql("CREATE TABLE graftcat.race.u (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.race.u
        SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)""")
      val dir = s"$wh/race/u"
      val Seq(file) = GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file)
      val schema = GraftLog.storedSchema(dir).get
      val pos = spark.read.format("graft.sources.GraftLogSource")
        .option("path", dir).load().filter(col("id") === 99L)
        .select(col("_pos")).head.getLong(0)
      // the SET clause's UDF commits, once and while the UPDATE's job
      // runs, a DV hiding row 99 of the file the UPDATE scanned
      UpdateRace.fired.set(false)
      spark.udf.register("hide_once", (v: Long) => {
        if (UpdateRace.fired.compareAndSet(false, true))
          GraftLog.commitNew(dir, schema)(ver => Seq(LogEntry.dv(ver, file,
            Some((GraftLogDv.write(dir, Array(pos)), 1L)))))
        v
      })
      val err = intercept[Exception](spark.sql(
        "UPDATE graftcat.race.u SET v = hide_once(v) + 1000 WHERE id < 10"))
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
      assert(chain(err).exists(_.isInstanceOf[
        GraftConcurrentModificationException]), chain(err))
      assert(UpdateRace.fired.get())
      // the rewrite did not publish: row 99 stays hidden, no v moved
      val r = spark.sql(
        "SELECT COUNT(*), SUM(v), MAX(id) FROM graftcat.race.u").head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
        (99L, (0L until 99L).sum, 98L), r)
    }
  }

  test("SQL MERGE INTO: matched update, unmatched insert, by-source delete") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db6")
      spark.sql("CREATE TABLE graftcat.db6.m (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.db6.m
        SELECT /*+ REPARTITION(2) */ id, id FROM range(0, 100)""")
      spark.sql("""
        MERGE INTO graftcat.db6.m t
        USING (SELECT id, -id AS v FROM range(90, 120)) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN DELETE""")
      // [0,5) deleted; [5,90) keep v=id; [90,120) have v=-id
      val rows = spark.sql(
        "SELECT id, v FROM graftcat.db6.m ORDER BY id").collect()
      assert(rows.length == 115)
      assert(rows.head.getLong(0) == 5)
      assert(rows.forall(r =>
        if (r.getLong(0) >= 90) r.getLong(1) == -r.getLong(0)
        else r.getLong(1) == r.getLong(0)))
      // merge commits as ONE atomic version; pre-merge state travels
      val vNow = graft.sources.GraftLog.currentVersion(
        s"$wh/db6/m")
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftcat.db6.m VERSION AS OF ${vNow - 1}")
        .head.getLong(0) == 100)
    }
  }

  test("_file metadata column maps every row to its manifest part file") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db6")
      spark.sql("CREATE TABLE graftcat.db6.f (id BIGINT)")
      spark.sql("""INSERT INTO graftcat.db6.f
        SELECT /*+ REPARTITION_BY_RANGE(3, id) */ id FROM range(0, 300)""")
      // hidden from SELECT *; selectable by name; one file per range
      assert(spark.table("graftcat.db6.f").columns.toSeq == Seq("id"))
      val perFile = spark.sql(
        """SELECT _file, COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi
           FROM graftcat.db6.f GROUP BY _file""").collect()
      assert(perFile.length == 3)
      assert(perFile.map(_.getLong(1)).sum == 300)
      // ranges are disjoint: each file's span holds exactly its count
      perFile.foreach(r =>
        assert(r.getLong(3) - r.getLong(2) + 1 == r.getLong(1)))
      // the names match the live manifest
      val manifest = graft.sources.GraftLog
        .committedFiles(s"$wh/db6/f").toSet
      assert(perFile.map(_.getString(0)).toSet == manifest)
    }
  }

  test("CALL procedures drive compact, restore, and vacuum from SQL") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db7")
      spark.sql("CREATE TABLE graftcat.db7.c (id BIGINT)")
      (0 until 3).foreach(i => spark.sql(
        s"""INSERT INTO graftcat.db7.c
            SELECT /*+ REPARTITION(1) */ id
            FROM range(${i * 100}, ${i * 100 + 100})"""))
      // compact: 3 small parts → 1, published as a new version
      val compacted = spark.sql(
        "CALL graftcat.system.compact(table => 'db7.c')").head
      assert(compacted.getInt(0) == 3)
      assert(spark.sql("SELECT COUNT(*), SUM(id) FROM graftcat.db7.c")
        .head.getLong(0) == 300)
      // restore to the pre-compaction snapshot: the compacted file
      // retires, the 3 original parts re-add — as NEW history
      val restored = spark.sql(
        "CALL graftcat.system.restore(table => 'db7.c', version => 2)")
        .head
      assert(restored.getInt(0) == 1 && restored.getInt(1) == 3)
      assert(spark.table("graftcat.db7.c").count() == 300)
      // expire-history vacuum reclaims the now-unreferenced compacted
      // part (min_age_ms => 0: test files are seconds old)
      val deleted = spark.sql(
        """CALL graftcat.system.vacuum(table => 'db7.c',
           min_age_ms => 0, expire_history => true)""").head
      assert(deleted.getInt(0) == 1)
      assert(spark.table("graftcat.db7.c").count() == 300)
      // an unknown procedure fails loudly
      val e = intercept[Exception] {
        spark.sql("CALL graftcat.system.nope()").collect()
      }
      assert(e.getMessage.contains("nope"))
    }
  }

  test("SHOW PROCEDURES lists the maintenance surface; DESCRIBE explains") {
    withCatalog {
      val names = spark.sql("SHOW PROCEDURES IN graftcat.system")
        .select("procedure_name").collect().map(_.getString(0)).toSet
      assert(names == Set("compact", "vacuum", "optimize_zorder",
        "restore", "set_ref", "drop_ref", "expire_log", "delete_mor",
        "publish_staged", "drop_staged",
        "create_branch", "fast_forward", "drop_branch", "refresh_mv",
        "sync_replica", "repartition_table"))
      val desc = spark.sql("DESCRIBE PROCEDURE graftcat.system.vacuum")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("vacuum") && desc.contains("min_age_ms"),
        s"description should name the op and its knobs:\n$desc")
    }
  }

  test("CALL optimize_zorder rewrites the layout through SQL") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db7")
      spark.sql("CREATE TABLE graftcat.db7.z (x BIGINT, y BIGINT)")
      spark.sql("""INSERT INTO graftcat.db7.z
        SELECT /*+ REPARTITION(4) */ id % 256 AS x,
               (id * 177) % 256 AS y
        FROM range(0, 4096)""")
      val rewritten = spark.sql(
        """CALL graftcat.system.optimize_zorder(table => 'db7.z',
           col_a => 'x', col_b => 'y')""").head.getInt(0)
      assert(rewritten == 4)
      assert(spark.sql("SELECT COUNT(*), SUM(x) FROM graftcat.db7.z")
        .head.getLong(0) == 4096)
    }
  }

  test("SQL MERGE runtime group filter bounds the rewrite to touched files") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db9")
      spark.sql("CREATE TABLE graftcat.db9.m2 (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.db9.m2
        SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id
        FROM range(0, 8000)""")
      // narrow source: keys 1000..1499 live in ONE of the 4 range
      // files; the runtime matching-rows subquery hands the scan the
      // touched keys and only that file rewrites
      spark.sql("""
        MERGE INTO graftcat.db9.m2 t
        USING (SELECT id, -id AS v FROM range(1000, 1500)) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v""")
      val r = spark.sql(
        "SELECT COUNT(*), SUM(v) FROM graftcat.db9.m2").head
      assert(r.getLong(0) == 8000)
      val base = (0L until 8000L).sum
      assert(r.getLong(1) == base - 2 * (1000L until 1500L).sum)
      val removes = spark.sql(
        """SELECT COUNT(*) FROM graftcat.db9.`m2$files`
           WHERE action = 'remove'""").head.getLong(0)
      assert(removes >= 1 && removes <= 2,
        s"runtime group filtering must bound the MERGE rewrite to " +
          s"the touched key range, rewrote $removes of 4 files")
    }
  }

  test("PARTITIONED BY in DDL: partitioned SQL tables join shuffle-free") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db8")
      spark.sql("""CREATE TABLE graftcat.db8.pa (id BIGINT, k BIGINT)
                   PARTITIONED BY (k)""")
      spark.sql("""CREATE TABLE graftcat.db8.pb (w BIGINT, k BIGINT)
                   PARTITIONED BY (k)""")
      spark.sql(
        "INSERT INTO graftcat.db8.pa SELECT id, id % 4 FROM range(4000)")
      spark.sql(
        "INSERT INTO graftcat.db8.pb SELECT id * 3, id % 4 FROM range(400)")
      val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.sql("""
          SELECT a.k, COUNT(*) AS n
          FROM graftcat.db8.pa a JOIN graftcat.db8.pb b ON a.k = b.k
          GROUP BY a.k""")
        val rows = j.collect()
        assert(rows.length == 4)
        assert(rows.map(_.getLong(1)).sum == 400000L)
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          "partitioned DDL tables must storage-partition-join AND " +
            s"aggregate on the partition key with zero exchange:\n" +
            plan.take(2000))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("SQL views: create, query, rename, alter property, drop") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbv")
      spark.sql("CREATE TABLE graftcat.dbv.base (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.dbv.base SELECT id, id * 2 FROM range(100)")
      spark.sql("""CREATE VIEW graftcat.dbv.evens AS
        SELECT id, v FROM graftcat.dbv.base WHERE id % 2 = 0""")
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbv.evens")
        .head.getLong(0) == 50)
      // a view is a stored QUERY: later inserts show through
      spark.sql(
        "INSERT INTO graftcat.dbv.base SELECT id, 0 FROM range(100, 110)")
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbv.evens")
        .head.getLong(0) == 55)
      // listing sees it
      val vs = spark.sql("SHOW VIEWS IN graftcat.dbv")
        .select("viewName").collect().map(_.getString(0))
      assert(vs.contains("evens"))
      spark.sql("ALTER VIEW graftcat.dbv.evens SET TBLPROPERTIES ('o'='x')")
      spark.sql("ALTER VIEW graftcat.dbv.evens RENAME TO dbv.evens2")
      assert(spark.sql("SELECT SUM(v) FROM graftcat.dbv.evens2")
        .head.getLong(0) == (0 until 100 by 2).map(_ * 2).sum)
      spark.sql("DROP VIEW graftcat.dbv.evens2")
      assert(!spark.sql("SHOW VIEWS IN graftcat.dbv")
        .select("viewName").collect().map(_.getString(0))
        .contains("evens2"))
      // name-space collision contract: a table cannot take a view's
      // name (the view would shadow it), nor a view a table's
      spark.sql("""CREATE VIEW graftcat.dbv.taken AS
        SELECT id FROM graftcat.dbv.base""")
      val e1 = intercept[Exception] {
        spark.sql("CREATE TABLE graftcat.dbv.taken (id BIGINT)")
      }
      assert(e1.getMessage.contains("taken"))
      val e2 = intercept[Exception] {
        spark.sql("""CREATE VIEW graftcat.dbv.base AS
          SELECT 1 AS one""")
      }
      assert(e2.getMessage.contains("base"))
    }
  }

  test("CHECK constraints: enforced on writes, validated on ALTER") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbc")
      spark.sql("CREATE TABLE graftcat.dbc.c (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.dbc.c SELECT id, id FROM range(100)")
      spark.sql(
        "ALTER TABLE graftcat.dbc.c ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
      // a violating INSERT must fail, and the failed write must be
      // invisible (manifest-gated atomicity)
      val e = intercept[Exception] {
        spark.sql(
          "INSERT INTO graftcat.dbc.c SELECT id, -1 FROM range(5)")
      }
      assert(e.getMessage.contains("v_nonneg") ||
        e.getMessage.toUpperCase.contains("CHECK"))
      assert(spark.table("graftcat.dbc.c").count() == 100)
      // a conforming INSERT lands
      spark.sql(
        "INSERT INTO graftcat.dbc.c SELECT id, 0 FROM range(5)")
      assert(spark.table("graftcat.dbc.c").count() == 105)
      // adding a constraint existing rows violate must fail
      val e2 = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graftcat.dbc.c ADD CONSTRAINT big CHECK (id >= 50)")
      }
      assert(e2.getMessage.toUpperCase.contains("CHECK") ||
        e2.getMessage.contains("big"))
      // after DROP CONSTRAINT the violating insert succeeds
      spark.sql("ALTER TABLE graftcat.dbc.c DROP CONSTRAINT v_nonneg")
      spark.sql(
        "INSERT INTO graftcat.dbc.c SELECT id, -7 FROM range(2)")
      assert(spark.table("graftcat.dbc.c").count() == 107)
    }
  }

  test("column DEFAULT values: omitted columns fill engine-side") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbd")
      spark.sql(
        "CREATE TABLE graftcat.dbd.d (id BIGINT, v BIGINT DEFAULT 42)")
      spark.sql("INSERT INTO graftcat.dbd.d (id) SELECT id FROM range(10)")
      spark.sql("INSERT INTO graftcat.dbd.d VALUES (100, 7)")
      spark.sql(
        "INSERT INTO graftcat.dbd.d (id, v) VALUES (101, DEFAULT)")
      val rows = spark.sql(
        "SELECT id, v FROM graftcat.dbd.d ORDER BY id").collect()
      assert(rows.length == 12)
      assert(rows.take(10).forall(_.getLong(1) == 42L))
      assert(rows(10).getLong(1) == 7L)
      assert(rows(11).getLong(1) == 42L)
    }
  }

  test("view hardening: failed REPLACE keeps the old view, COMMENT " +
      "round-trips, UNSET works, bare RENAME keeps the namespace") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.vh")
      spark.sql("CREATE TABLE graftcat.vh.t (id BIGINT)")
      spark.sql("INSERT INTO graftcat.vh.t SELECT id FROM range(10)")
      // COMMENT stores a property whose base64 KEY needs padding —
      // the padded '=' must not be eaten by the line separator
      spark.sql("""CREATE VIEW graftcat.vh.v
        COMMENT 'a padded-key property'
        AS SELECT id FROM graftcat.vh.t WHERE id < 5""")
      spark.sql(
        "ALTER VIEW graftcat.vh.v SET TBLPROPERTIES ('o'='x')")
      def viewProps(): Map[String, String] = {
        val cat = new graft.sources.GraftCatalog()
        cat.initialize("graftcat",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Map.of("warehouse", wh)))
        val v = cat.loadView(org.apache.spark.sql.connector.catalog
          .Identifier.of(Array("vh"), "v"))
        scala.jdk.CollectionConverters
          .MapHasAsScala(v.properties()).asScala.toMap
      }
      assert(viewProps().get("comment")
        .contains("a padded-key property"))
      assert(viewProps().get("o").contains("x"))
      // UNSET TBLPROPERTIES reaches the catalog instead of failing
      spark.sql(
        "ALTER VIEW graftcat.vh.v UNSET TBLPROPERTIES ('o')")
      assert(!viewProps().contains("o"))
      // a failing REPLACE must not destroy the existing view
      intercept[Exception](spark.sql("""CREATE OR REPLACE VIEW
        graftcat.vh.v AS SELECT no_such_col FROM graftcat.vh.t"""))
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.vh.v")
        .head.getLong(0) == 5L,
        "the old view must survive a failed replacement")
      // a bare rename target stays in the view's own namespace
      spark.sql("ALTER VIEW graftcat.vh.v RENAME TO v2")
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.vh.v2")
        .head.getLong(0) == 5L)
      // a table cannot rename onto a view name (it would be shadowed)
      val e = intercept[Exception](spark.sql(
        "ALTER TABLE graftcat.vh.t RENAME TO vh.v2"))
      assert(e.getMessage.toLowerCase.contains("view") ||
        e.getMessage.contains("already"))
      // nested namespaces are discoverable
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.vh.sub")
      val kids = spark.sql("SHOW NAMESPACES IN graftcat.vh")
        .collect().map(_.getString(0))
      assert(kids.exists(_.endsWith("sub")), s"got ${kids.mkString(",")}")
    }
  }

  test("SQL TRUNCATE TABLE: metadata-only wipe, history " +
      "time-travelable, typed CDF records the vanished rows") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbtr")
      spark.sql("CREATE TABLE graftcat.dbtr.t (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.dbtr.t
        SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)""")
      graft.sources.GraftLog.setProperties(s"$wh/dbtr/t",
        Map("graft.cdf.enabled" -> "true"))
      val v = graft.sources.GraftLog.currentVersion(s"$wh/dbtr/t")
      spark.sql("TRUNCATE TABLE graftcat.dbtr.t")
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbtr.t")
        .head.getLong(0) == 0L)
      // history survives: the truncate is one metadata commit
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftcat.dbtr.t VERSION AS OF $v")
        .head.getLong(0) == 100L)
      // the typed feed carries every vanished row as a delete
      val dels = graft.sources.GraftLog.typedChanges(spark, s"$wh/dbtr/t", v)
        .filter(col("_change_type") === "delete").count()
      assert(dels == 100L)
      // the table stays writable after the wipe
      spark.sql("""INSERT INTO graftcat.dbtr.t
        SELECT id, id FROM range(0, 7)""")
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbtr.t")
        .head.getLong(0) == 7L)
    }
  }

  test("SQL DELETE with a non-convertible predicate falls back to COW rewrite") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db6")
      spark.sql("CREATE TABLE graftcat.db6.d (id BIGINT)")
      spark.sql("""INSERT INTO graftcat.db6.d
        SELECT /*+ REPARTITION(1) */ id FROM range(0, 700)""")
      // id % 7 = 3 is not expressible as a pushed Filter — before
      // SupportsRowLevelOperations this rejected at analysis; now it
      // rewrites through the group-based ReplaceData path
      spark.sql("DELETE FROM graftcat.db6.d WHERE id % 7 = 3")
      val r = spark.sql(
        "SELECT COUNT(*), SUM(id) FROM graftcat.db6.d").head
      assert(r.getLong(0) == 600)
      val all = (0L until 700L)
      assert(r.getLong(1) == all.filterNot(_ % 7 == 3).sum)
    }
  }

  test("views resolve unqualified names in their DEFINITION context") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.defctx")
      spark.sql("CREATE TABLE graftcat.defctx.src (id BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.defctx.src SELECT id FROM range(7)")
      // a session-catalog temp view with the SAME bare name — the trap:
      // if the stored view re-resolved in the READER's context, `src`
      // would silently bind to this 1-row decoy instead of the
      // definition-time table
      spark.range(1).selectExpr("id + 1000 AS id")
        .createOrReplaceTempView("src")
      val prevCat = spark.catalog.currentCatalog()
      val prevDb = spark.catalog.currentDatabase
      try {
        // define the view with graftcat.defctx CURRENT, body unqualified
        spark.sql("USE graftcat.defctx")
        spark.sql(
          "CREATE VIEW graftcat.defctx.v AS SELECT COUNT(*) AS n FROM src")
        // read it back from a DIFFERENT current context
        spark.sql(s"USE $prevCat.$prevDb")
        assert(spark.sql("SELECT n FROM graftcat.defctx.v")
          .head.getLong(0) == 7,
          "view body must resolve `src` against the definition " +
            "catalog/namespace, not the reader's current context")
      } finally {
        spark.sql(s"USE $prevCat.$prevDb")
        spark.catalog.dropTempView("src")
      }
    }
  }

  test("a catalog registered under a definition-namespace name " +
      "cannot hijack a stored view's 2-part references") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.vhij")
      spark.sql("CREATE TABLE graftcat.vhij.t (id BIGINT)")
      spark.sql("INSERT INTO graftcat.vhij.t SELECT id FROM range(7)")
      // the body names the table `vhij.t` — namespace-qualified
      // relative to the definition catalog, the common habit; the
      // definition catalog must be CURRENT for that to parse
      val prevCat = spark.catalog.currentCatalog()
      val prevDb = spark.catalog.currentDatabase
      spark.sql("USE graftcat.vhij")
      try spark.sql("CREATE VIEW graftcat.vhij.v AS " +
        "SELECT count(*) AS n FROM vhij.t")
      finally spark.sql(s"USE $prevCat.$prevDb")
      assert(spark.sql("SELECT n FROM graftcat.vhij.v")
        .head.getLong(0) == 7)
      // now register a SESSION CATALOG named exactly like the
      // definition namespace, with its own decoy table `t` — if the
      // view body's `vhij.t` re-resolved catalog-first, every read
      // would silently redirect to the decoy
      val wh2 = java.nio.file.Files
        .createTempDirectory("graft-hijack").toString
      spark.conf.set("spark.sql.catalog.vhij",
        "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.vhij.warehouse", wh2)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS vhij.d")
        spark.sql("CREATE TABLE vhij.d.t (id BIGINT)")
        spark.sql("INSERT INTO vhij.d.t SELECT id FROM range(1)")
        assert(spark.sql("SELECT n FROM graftcat.vhij.v")
          .head.getLong(0) == 7,
          "the stored view must keep reading the DEFINITION " +
            "catalog's table, not the later-registered same-named " +
            "catalog")
      } finally {
        spark.conf.unset("spark.sql.catalog.vhij.warehouse")
        spark.conf.unset("spark.sql.catalog.vhij")
      }
    }
  }

  test("SQL DELETE commits a DV, rewrites nothing") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dvdb")
      spark.sql("CREATE TABLE graftcat.dvdb.t (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO graftcat.dvdb.t
        SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 3
        FROM range(0, 8000)""")
      val dir = s"$wh/dvdb/t"
      val before = graft.sources.GraftLog
        .entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
      spark.sql(
        "DELETE FROM graftcat.dvdb.t WHERE id >= 1000 AND id < 1500")
      val after = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      assert(after.map(_.file).toSet == before,
        "MoR SQL DELETE must not rewrite part files")
      assert(after.count(e => graft.sources.GraftLog.dvOf(e).isDefined) == 1)
      assert(spark.table("graftcat.dvdb.t").count() == 7500)
      assert(spark.sql(
        "SELECT SUM(v) AS s FROM graftcat.dvdb.t").head.getLong(0) ==
        3L * ((0L until 8000L).sum - (1000L until 1500L).sum))
      // the DV commit shows up in the files introspection surface
      assert(spark.sql("""SELECT COUNT(*) FROM graftcat.dvdb.`t$files`
        WHERE action = 'dv'""").head.getLong(0) == 1L)
      // a second DELETE in another file hides its rows the same way
      spark.sql(
        "DELETE FROM graftcat.dvdb.t WHERE id >= 6000 AND id < 6100")
      val after2 = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      assert(after2.map(_.file).toSet == before)
      assert(after2.count(e => graft.sources.GraftLog.dvOf(e).isDefined)
        == 2)
      assert(spark.table("graftcat.dvdb.t").count() == 7400)
    }
  }

  test("refs + log expiration + MoR delete through the SQL procedure surface") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.refdb")
      spark.sql("CREATE TABLE graftcat.refdb.t (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.refdb.t SELECT id, id FROM range(100)")  // v0
      spark.sql(
        "INSERT INTO graftcat.refdb.t SELECT id, id FROM range(50)")   // v1
      // tag version 0 and read it back by NAME
      assert(spark.sql("""CALL graftcat.system.set_ref(
        table => 'refdb.t', name => 'gold', version => 0)""")
        .head.getLong(0) == 0L)
      assert(spark.sql(
        "SELECT COUNT(*) FROM graftcat.refdb.t VERSION AS OF 'gold'")
        .head.getLong(0) == 100)
      assert(spark.sql(
        "SELECT COUNT(*) FROM graftcat.refdb.t VERSION AS OF 1")
        .head.getLong(0) == 150)
      // MoR delete through CALL: zero rewrites, rows hidden
      val r = spark.sql("""CALL graftcat.system.delete_mor(
        table => 'refdb.t', key_col => 'id', lo => 10, hi => 20)""")
        .head
      assert(r.getBoolean(2), "expected the DV path")
      assert(spark.table("graftcat.refdb.t").count() == 130)
      // drive past a checkpoint, expire, and confirm the horizon
      (0 until 12).foreach(i => spark.sql(
        s"INSERT INTO graftcat.refdb.t SELECT id + ${1000 + i}, 0 " +
          "FROM range(1)"))
      val deleted = spark.sql("""CALL graftcat.system.expire_log(
        table => 'refdb.t', before_version => 12)""").head.getInt(0)
      assert(deleted > 0)
      // the tag below the horizon now fails loudly — resolution works,
      // replay refuses
      val e = intercept[Exception] {
        spark.sql(
          "SELECT COUNT(*) FROM graftcat.refdb.t VERSION AS OF 'gold'")
          .collect()
      }
      assert(e.getMessage.contains("expired"),
        s"sub-horizon tag read must fail loudly, got: ${e.getMessage}")
      // the current snapshot is untouched
      assert(spark.table("graftcat.refdb.t").count() == 142)
      // t$refs lists the tag and marks it unreachable post-expiration
      val refs = spark.sql(
        "SELECT name, version, reachable FROM graftcat.refdb.`t$refs`")
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(refs == Set(("gold", 0L, false)),
        s"t\\$$refs must surface the dead tag: $refs")
    }
  }

  test("TBLPROPERTIES round-trip; compaction honors the table's target") {
    import graft.sources.GraftLog
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.props")
      spark.sql("""CREATE TABLE graftcat.props.t (id BIGINT)
        TBLPROPERTIES ('graft.compact.target-bytes' = '8000',
                       'team' = 'data-eng')""")
      def show() = spark.sql(
        "SHOW TBLPROPERTIES graftcat.props.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(show().get("team").contains("data-eng"))
      assert(show().get("graft.compact.target-bytes").contains("8000"))
      spark.sql("""ALTER TABLE graftcat.props.t
        SET TBLPROPERTIES ('team' = 'ml-platform')""")
      spark.sql(
        "ALTER TABLE graftcat.props.t UNSET TBLPROPERTIES ('absent')")
      assert(show().get("team").contains("ml-platform"))
      // compaction rolls at the TABLE's 8k target with no session conf
      val dir = new java.io.File(
        new java.io.File(wh, "props"), "t").getPath
      (1 to 3).foreach(_ => spark.sql(
        """INSERT INTO graftcat.props.t
           SELECT /*+ REPARTITION(1) */ id FROM range(2000)"""))
      GraftLog.compact(dir)
      val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
      assert(live.size > 1,
        s"8k property target over ~6k rows must roll, got ${live.size}")
      assert(spark.table("graftcat.props.t").count() == 6000)
    }
  }

  test("CTAS/RTAS are atomic: failures strand no table and lose no table") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.ctas")
      val boom = org.apache.spark.sql.functions.udf((id: Long) =>
        if (id >= 50) throw new RuntimeException("boom") else id)
      spark.udf.register("ctas_boom", boom)
      // successful CTAS goes through the staged path
      spark.sql("""CREATE TABLE graftcat.ctas.ok AS
        SELECT id, id * 2 AS v FROM range(100)""")
      assert(spark.table("graftcat.ctas.ok").count() == 100)
      // failed CTAS: NO stranded empty table, no staged residue
      intercept[Exception] {
        spark.sql("""CREATE TABLE graftcat.ctas.bad AS
          SELECT ctas_boom(id) AS id FROM range(100)""")
      }
      assert(!spark.catalog.tableExists("graftcat.ctas.bad"),
        "a failed CTAS must not leave a committed (empty) table")
      val ns = new java.io.File(
        spark.conf.get("spark.sql.catalog.graftcat.warehouse"), "ctas")
      assert(Option(ns.listFiles()).getOrElse(Array.empty)
        .forall(f => !f.getName.startsWith(".staged-")),
        "aborted staging must clean its directory")
      // failed RTAS: the OLD table survives untouched (the non-staged
      // path drops it first and loses it)
      intercept[Exception] {
        spark.sql("""REPLACE TABLE graftcat.ctas.ok AS
          SELECT ctas_boom(id) AS id FROM range(100)""")
      }
      assert(spark.table("graftcat.ctas.ok").count() == 100,
        "a failed REPLACE TABLE AS SELECT must keep the old table")
      // successful RTAS swaps wholesale; CREATE OR REPLACE creates
      spark.sql(
        "REPLACE TABLE graftcat.ctas.ok AS SELECT id FROM range(10)")
      assert(spark.table("graftcat.ctas.ok").count() == 10)
      spark.sql("""CREATE OR REPLACE TABLE graftcat.ctas.fresh AS
        SELECT id FROM range(7)""")
      assert(spark.table("graftcat.ctas.fresh").count() == 7)
      // partitioned CTAS: the staged table inherits the declaration,
      // so the moved-in table grows storage-partitioned groups
      spark.sql("""CREATE TABLE graftcat.ctas.p PARTITIONED BY (k) AS
        SELECT /*+ REPARTITION(1) */ id,
          CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END AS k
        FROM range(60)""")
      val parts = spark.sql(
        "SELECT part_value, n_rows FROM graftcat.ctas.`p$partitions`")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(parts == Set(("x", 30L), ("y", 30L)),
        s"partitioned CTAS must land with partition records: $parts")
    }
  }

  test("write-audit-publish through SQL: conf-gated staging, CALL publish") {
    import graft.sources.GraftLog
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.wapdb")
      spark.sql("CREATE TABLE graftcat.wapdb.t (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.wapdb.t SELECT id, id FROM range(100)")
      spark.conf.set(GraftLog.WapConf, "batch7")
      try {
        spark.sql(
          "INSERT INTO graftcat.wapdb.t SELECT id + 100, 0 FROM range(50)")
        // audit view: committed + staged; quality checks run here
        assert(spark.sql("SELECT COUNT(*) FROM graftcat.wapdb.t")
          .head.getLong(0) == 150)
        // SQL DELETE mid-audit refuses (cannot stage row-level ops)
        val e = intercept[Exception] {
          spark.sql("DELETE FROM graftcat.wapdb.t WHERE id < 10")
        }
        assert(e.getMessage != null)
      } finally spark.conf.unset(GraftLog.WapConf)
      // other sessions (no wap conf): only the committed 100 rows
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.wapdb.t")
        .head.getLong(0) == 100)
      val r = spark.sql("""CALL graftcat.system.publish_staged(
        table => 'wapdb.t', wap_id => 'batch7')""").head
      assert(r.getInt(1) >= 1)
      assert(spark.sql("SELECT COUNT(*) FROM graftcat.wapdb.t")
        .head.getLong(0) == 150)
      // the pre-publish snapshot stays addressable by version
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftcat.wapdb.t VERSION AS OF ${r.getLong(0) - 1}")
        .head.getLong(0) == 100)
    }
  }

  test("t$partitions: one summary row unpartitioned; WAP keeps SPJ records") {
    import graft.sources.GraftLog
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.pm")
      // unpartitioned table: one NULL-valued summary row (Iceberg shape)
      spark.sql("CREATE TABLE graftcat.pm.flat (id BIGINT)")
      spark.sql("INSERT INTO graftcat.pm.flat SELECT id FROM range(10)")
      val flat = spark.sql(
        "SELECT part_value, n_rows FROM graftcat.pm.`flat$partitions`")
        .collect()
      assert(flat.length == 1 && flat(0).isNullAt(0) &&
        flat(0).getLong(1) == 10L)
      // partitioned table: a STAGED append carries partition records,
      // so after publish the new files group with the old ones
      spark.sql("""CREATE TABLE graftcat.pm.p (id BIGINT, k STRING)
        PARTITIONED BY (k)""")
      spark.sql("""INSERT INTO graftcat.pm.p
        SELECT /*+ REPARTITION(1) */ id,
          CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(100)""")
      spark.conf.set(GraftLog.WapConf, "pwap")
      try spark.sql("""INSERT INTO graftcat.pm.p
        SELECT /*+ REPARTITION(1) */ id + 100,
          CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(40)""")
      finally spark.conf.unset(GraftLog.WapConf)
      spark.sql("""CALL graftcat.system.publish_staged(
        table => 'pm.p', wap_id => 'pwap')""").collect()
      val parts = spark.sql(
        """SELECT part_value, n_files, n_rows
           FROM graftcat.pm.`p$partitions`""").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(parts == Set(("x", 2L, 70L), ("y", 2L, 70L)),
        s"published staged files must keep partition records: " +
          parts.mkString(", "))
    }
  }

  test("partition-column-less append can never commit record-less files") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db7")
      spark.sql("""CREATE TABLE graftcat.db7.p (id BIGINT, k BIGINT)
        PARTITIONED BY (k)""")
      spark.sql(
        "INSERT INTO graftcat.db7.p SELECT id, id % 4 FROM range(40)")
      val dir = s"$wh/db7/p"
      // an append whose FRAME omits the partition column: Spark's
      // output resolution pads the nullable column before the write
      // builder sees the schema, so the rows route to the NULL
      // partition WITH a partition record — and the plan-time guard in
      // newWriteBuilder rejects any path that would reach the writer
      // without the column. Either way, no record-less file can commit.
      spark.range(5).selectExpr("id")
        .write.format("graft.sources.GraftLogSource")
        .option("path", dir).mode("append").save()
      assert(spark.table("graftcat.db7.p").count() == 45)
      // EVERY live file carries its partition record — the invariant
      // KeyGrouped scan grouping depends on
      val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      assert(live.nonEmpty && live.forall(e =>
        graft.sources.GraftLogPartValue.of(e, "k").isDefined),
        s"a live file lost its partition record: $live")
      // and the scan still groups by partition value (NULL is a group)
      val plan = spark.table("graftcat.db7.p")
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_log"), plan)
      val scanDesc = spark.table("graftcat.db7.p")
        .queryExecution.executedPlan.collectLeaves().mkString
      assert(scanDesc.contains("partGroups="),
        s"partition grouping disabled: $scanDesc")
    }
  }

  test("t$txns surfaces each incremental writer's applied-through marker") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db8")
      spark.sql("CREATE TABLE graftcat.db8.mv (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.db8.mv SELECT id, id FROM range(10)")
      val dir = s"$wh/db8/mv"
      assert(spark.sql(
        "SELECT * FROM graftcat.db8.`mv$txns`").count() == 0)
      graft.sources.GraftLog.commitTxn(dir, "refresh-job", 4L)
      graft.sources.GraftLog.commitTxn(dir, "sink-a", 2L)
      graft.sources.GraftLog.commitTxn(dir, "refresh-job", 9L)
      val rows = spark.sql(
        """SELECT app_id, applied_through
           FROM graftcat.db8.`mv$txns` ORDER BY app_id""")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // latest marker per writer, one row each
      assert(rows == Seq("refresh-job" -> 9L, "sink-a" -> 2L),
        s"t\\$$txns rows: $rows")
      // committed_version points at a real commit; stamp is real
      val meta = spark.sql(
        """SELECT committed_version, ts_millis
           FROM graftcat.db8.`mv$txns` WHERE app_id = 'refresh-job'""")
        .head
      assert(meta.getLong(0) == 3L &&
        meta.getLong(1) > 0L, s"marker metadata: $meta")
    }
  }

  test("branch lifecycle through SQL: create, write, inspect, " +
      "fast-forward") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db9")
      spark.sql("CREATE TABLE graftcat.db9.b (id BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.db9.b SELECT id, id FROM range(100)")
      val fork = spark.sql("""CALL graftcat.system.create_branch(
        table => 'db9.b', name => 'audit')""").head.getLong(0)
      assert(fork == 0L)
      spark.conf.set(graft.sources.GraftLog.BranchConf, "audit")
      try {
        spark.sql("INSERT INTO graftcat.db9.b " +
          "SELECT id + 100, id FROM range(50)")
        // the branch session sees its own writes
        assert(spark.table("graftcat.db9.b").count() == 150)
      } finally spark.conf.unset(graft.sources.GraftLog.BranchConf)
      // mainline: unchanged; t$branches surfaces the pending line
      assert(spark.table("graftcat.db9.b").count() == 100)
      val row = spark.sql("""SELECT name, fork_version, head_version,
          n_commits, n_files FROM graftcat.db9.`b$branches`""").head
      assert(row.getString(0) == "audit" && row.getLong(1) == 0L &&
        row.getLong(2) == 1L && row.getLong(3) == 1L,
        s"t\\$$branches row: $row")
      val ff = spark.sql("""CALL graftcat.system.fast_forward(
        table => 'db9.b', name => 'audit')""").head
      assert(ff.getLong(0) == 1L)
      assert(spark.table("graftcat.db9.b").count() == 150)
      assert(spark.sql(
        "SELECT * FROM graftcat.db9.`b$branches`").count() == 0)
      // the pre-publish snapshot is still travelable
      assert(spark.sql("""SELECT COUNT(*) FROM graftcat.db9.b
        VERSION AS OF 0""").head.getLong(0) == 100)
    }
  }

  test("CALL refresh_mv maintains a materialized view from SQL alone") {
    withCatalog {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db10")
      spark.sql("CREATE TABLE graftcat.db10.src (k BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO graftcat.db10.src SELECT id % 8, id FROM range(400)")
      val r0 = spark.sql("""CALL graftcat.system.refresh_mv(
        source => 'db10.src', view => 'db10.src_mv',
        key_col => 'k', sum_cols => 'v', minmax_cols => 'v')""").head
      assert(r0.getString(0) == "bootstrap")
      spark.sql("""INSERT INTO graftcat.db10.src
        SELECT /*+ REPARTITION(1) */ 3, id + 1000 FROM range(5)""")
      val r1 = spark.sql("""CALL graftcat.system.refresh_mv(
        source => 'db10.src', view => 'db10.src_mv',
        key_col => 'k', sum_cols => 'v', minmax_cols => 'v')""").head
      assert(r1.getString(0) == "incremental" && r1.getInt(2) == 1,
        s"delta-bounded refresh expected: $r1")
      // the view is an ordinary queryable catalog table, now current
      val got = spark.sql("""SELECT n_rows, sum_v, max_v
        FROM graftcat.db10.src_mv WHERE k = 3""").head
      val want = spark.sql("""SELECT COUNT(*), SUM(v), MAX(v)
        FROM graftcat.db10.src WHERE k = 3""").head
      assert(got.getLong(0) == want.getLong(0) &&
        got.getLong(1) == want.getLong(1) &&
        got.getLong(2) == want.getLong(2), s"$got vs $want")
      // and its watermark is visible through t$txns
      val txn = spark.sql("""SELECT app_id, applied_through
        FROM graftcat.db10.`src_mv$txns`""").head
      assert(txn.getString(0) == "materialized-agg" &&
        txn.getLong(1) == 1L)
    }
  }

  test("CTAS at a child-namespace identifier aborts instead of " +
      "deleting the namespace's tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbn.sub")
    spark.sql("CREATE TABLE graftcat.dbn.sub.inner_t (id BIGINT)")
    spark.sql("INSERT INTO graftcat.dbn.sub.inner_t VALUES (1), (2)")
    // dbn.sub is a directory WITHOUT a schema marker — the staged
    // commit used to clear it as a "husk", deleting inner_t's data
    val err = intercept[Exception](
      spark.sql("CREATE TABLE graftcat.dbn.sub AS SELECT 1L AS id"))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(err).exists(_.contains("NAMESPACE")), chain(err).toString)
    // the child table survived intact
    assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbn.sub.inner_t")
      .head.getLong(0) == 2L)
  }

  test("REPLACE TABLE continues the version axis: a view's marker " +
      "from before it re-bootstraps even after the head passes it") {
    import graft.sources.{GraftLog, MaterializedAgg}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbl")
    spark.sql("DROP TABLE IF EXISTS graftcat.dbl.rt")
    spark.sql("CREATE TABLE graftcat.dbl.rt AS " +
      "SELECT id, id % 3 AS k, id AS v FROM range(0, 30)")
    spark.sql("INSERT INTO graftcat.dbl.rt " +
      "SELECT id, id % 3, id FROM range(30, 60)")
    val dir = s"$wh/dbl/rt"
    val mv = java.nio.file.Files.createTempDirectory("graft-rt-mv").toString
    assert(MaterializedAgg.refresh(spark, dir, mv, "k", Seq("v")).mode ==
      "bootstrap")
    assert(GraftLog.currentVersion(dir) == 1L)
    spark.sql("REPLACE TABLE graftcat.dbl.rt AS " +
      "SELECT id, id % 3 AS k, -id AS v FROM range(100, 110)")
    // the replacement is one checkpoint at the old head + 1 with no
    // history below it: time travel into the old table fails as
    // expired
    assert(GraftLog.currentVersion(dir) == 2L)
    assert(GraftLog.oldestReplayableVersion(dir) == 2L)
    val err = intercept[Exception](spark.sql(
      "SELECT * FROM graftcat.dbl.rt VERSION AS OF 1").collect())
    assert(err.getMessage.contains("predates the retained log"),
      err.getMessage)
    // grow the head past the view's marker (1): the marker is below the
    // new horizon, so the view rebuilds instead of merging the new
    // table's appends into the old table's totals
    spark.sql("INSERT INTO graftcat.dbl.rt " +
      "SELECT id, id % 3, -id FROM range(110, 120)")
    spark.sql("INSERT INTO graftcat.dbl.rt " +
      "SELECT id, id % 3, -id FROM range(120, 130)")
    val r = MaterializedAgg.refresh(spark, dir, mv, "k", Seq("v"))
    assert(r.mode == "bootstrap" && r.srcVersion == 4L, s"got $r")
    val got = spark.read.format("graft.sources.GraftLogSource")
      .option("path", mv).load().agg(sum(col("sum_v"))).head.getLong(0)
    assert(got == -(100L until 130L).sum)
    assert(spark.sql("SELECT COUNT(*) FROM graftcat.dbl.rt")
      .head.getLong(0) == 30L)
  }
}

/** The once-only trigger of the UPDATE race test's UDF. */
object UpdateRace {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
