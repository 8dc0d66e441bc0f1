package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.ext.Dedup

/** Latest-wins merge: Dedup.latestByKey and Engine.upsertTable. */
class UpsertSpec extends SparkSuite {
  import spark.implicits._

  private lazy val base = Seq(
    (1L, "u", 10L, "a"), (1L, "u", 30L, "b"), (1L, "u", 20L, "c"),
    (2L, "v", 10L, "d"),
    // version tie on key 3 → greater id must win
    (3L, "w", 10L, "e"), (4L, "w", 10L, "f")
  ).toDF("id", "k", "ver", "payload")

  test("latestByKey keeps the greatest (version, tie) row per key") {
    val got = Dedup.latestByKey(base, Seq("k"), "ver", "id")
      .as[(String, Long, Long, String)].collect()
      .map { case (k, id, ver, p) => k -> ((id, ver, p)) }.toMap
    assert(got("u") == ((1L, 30L, "b")))
    assert(got("v") == ((2L, 10L, "d")))
    assert(got("w") == ((4L, 10L, "f")), "version tie must fall to max id")
  }

  test("latestByKey plans as an aggregation, not a per-key sort window") {
    val plan = Dedup.latestByKey(base, Seq("k"), "ver", "id")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("window"),
      s"expected max_by aggregation, found a window:\n$plan")
  }

  test("latestByKey refuses keys/version overlap and missing columns") {
    intercept[IllegalArgumentException] {
      Dedup.latestByKey(base, Seq("k"), "k", "id")
    }
    intercept[IllegalArgumentException] {
      Dedup.latestByKey(base, Seq("k"), "nope", "id")
    }
  }

  test("upsertTable merges updates latest-wins and is idempotent") {
    val root = Files.createTempDirectory("graft-upsert").toString
    val engine = new Engine(spark, root)
    engine.makeTable("inv",
      Seq((1L, 10L, "old1"), (2L, 10L, "old2")).toDF("id", "ver", "txt"))
    val updates = Seq(
      (1L, 20L, "new1"),  // newer → replaces
      (2L, 5L, "stale2"), // older → ignored
      (3L, 1L, "add3")    // new key → inserted
    ).toDF("id", "ver", "txt")
    val n = engine.upsertTable("inv", updates, Seq("id"), "ver", "ver")
    assert(n == 3)
    val got = engine.readTable(Seq("inv"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 20L, "new1"), (2L, 10L, "old2"), (3L, 1L, "add3")))

    // replaying the same updates changes nothing
    val n2 = engine.upsertTable("inv", updates, Seq("id"), "ver", "ver")
    assert(n2 == 3)
    val again = engine.readTable(Seq("inv"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(again == got)
  }

  test("latestByKey equals a reference maxBy on randomized data") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 2000).map { i =>
      (i.toLong, rnd.nextInt(50).toLong, rnd.nextInt(20).toLong,
        rnd.nextString(4))
    } // (id unique, key, version with many ties, payload)
    val df = rows.toDF("id", "k", "ver", "p").repartition(9)
    val got = Dedup.latestByKey(df, Seq("k"), "ver", "id")
      .as[(Long, Long, Long, String)].collect()
      .map { case (k, id, ver, p) => k -> ((id, ver, p)) }.toMap
    val want = rows.groupBy(_._2).map { case (k, g) =>
      val best = g.maxBy(r => (r._3, r._1)) // (version, id-tiebreak)
      k -> ((best._1, best._3, best._4))
    }
    assert(got == want)
  }

  test("describe profiles every column type in one pass") {
    val df = Seq(
      (1L, Some(2.5), Some("b"), Seq(1, 2)),
      (2L, None, Some("a"), Seq(3)),
      (3L, Some(-1.0), None, Seq())
    ).toDF("id", "x", "s", "arr")
    val got = graft.ext.Describe.describe(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("id").getLong(1) == 3 && got("id").getLong(2) == 0)
    assert(got("id").getDouble(3) == 1.0 && got("id").getDouble(4) == 3.0)
    assert(got("x").getLong(2) == 1)
    assert(got("x").getDouble(3) == -1.0 && got("x").getDouble(4) == 2.5)
    assert(got("s").getLong(2) == 1)
    assert(got("s").getString(5) == "a" && got("s").getString(6) == "b")
    // array column: counts only, stat slots null
    assert(got("arr").getLong(2) == 0 && got("arr").isNullAt(3) &&
      got("arr").isNullAt(5))
  }

  test("replaceTable swaps via staging: old table survives until the new " +
      "one is complete, and no staging residue remains") {
    val root = Files.createTempDirectory("graft-swap").toString
    val engine = new Engine(spark, root)
    engine.makeTable("t", Seq((1L, "a")).toDF("id", "txt"))
    // the replacement frame READS the table being replaced (upsert shape)
    val merged = engine.readTable(Seq("t"))
      .unionByName(Seq((2L, "b")).toDF("id", "txt"))
    engine.store.replaceTable("t", merged)
    val got = engine.readTable(Seq("t"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    // staged dir was renamed into place, not left behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "sources", ".graft-new-t")))
  }

  test("replaceTable swap is crash-recoverable: a crash between the two " +
      "renames leaves the old table at .graft-old, and the next call " +
      "restores it; leftover asides never surface in listTables") {
    val root = Files.createTempDirectory("graft-aside").toString
    val engine = new Engine(spark, root)
    engine.makeTable("t", Seq((1L, "a")).toDF("id", "txt"))
    // simulate the crash window: old table renamed aside, dest missing
    val dest = java.nio.file.Paths.get(root, "sources", "t")
    val aside = java.nio.file.Paths.get(root, "sources", ".graft-old-t")
    java.nio.file.Files.move(dest, aside)
    assert(!engine.listTables().contains(".graft-old-t"),
      "aside copies must not appear as tables")
    // … but the LONE aside IS the table (readable via the fallback):
    // listings and exists must surface it under its base name, or the
    // readable table would be invisible to list/DELETE routes
    assert(engine.listTables().contains("t"),
      "a lone aside must list as its base name")
    assert(engine.store.tableExists("t"),
      "a lone aside must count as existing")
    // reads fall back to the aside copy — the table never goes dark
    assert(engine.readTable(Seq("t")).count() == 1)
    // dropping the name in the crash window must remove the ghost too
    engine.store.dropTable("t")
    assert(!java.nio.file.Files.exists(aside),
      "dropTable must remove the aside copy")
    assert(!engine.store.tableExists("t") && !engine.listTables().contains("t"))
    // restore the crash-window state for the swap-completion check
    engine.makeTable("t", Seq((1L, "a")).toDF("id", "txt"))
    java.nio.file.Files.move(dest, aside)
    // and the next replace (upsert shape: input reads the table, i.e.
    // the fallback) completes the crashed swap
    val merged = engine.readTable(Seq("t"))
      .unionByName(Seq((2L, "b")).toDF("id", "txt"))
    engine.store.replaceTable("t", merged)
    val got = engine.readTable(Seq("t"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    assert(!java.nio.file.Files.exists(aside), "aside must be cleaned up")
    // the reserved suffix is rejected as a table name
    intercept[IllegalArgumentException] {
      engine.makeTable(".graft-old-x", Seq((1L, "a")).toDF("id", "txt"))
    }
  }

  test("upsertTable creates the destination when absent") {
    val root = Files.createTempDirectory("graft-upsert2").toString
    val engine = new Engine(spark, root)
    val n = engine.upsertTable("fresh",
      Seq((1L, 1L, "x")).toDF("id", "ver", "txt"), Seq("id"), "ver", "ver")
    assert(n == 1)
    assert(engine.listTables().contains("fresh"))
  }
}
