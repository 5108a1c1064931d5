package graft

import graft.sources.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimistic concurrency of the metadata-only (DDL) commits: every
  * DDL op derives from ONE read snapshot, so a concurrent commit that
  * takes its version slot refuses the op loudly and leaves the
  * interloper's snapshot live — and a row-introducing commit never
  * lands rows a concurrently added CHECK constraint was not validated
  * against. */
class LakeDdlOccSpec extends SparkSpec {

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  /** One row of the spec table: k, t, v and a struct `meta` (x, y). */
  private def row(k: Long): DataFrame =
    spark.sql(s"SELECT CAST($k AS BIGINT) AS k, 't$k' AS t, " +
      s"CAST($k AS INT) AS v, named_struct('x', $k, 'y', $k) AS meta")

  /** Run `body` exactly once in the window between the NEXT commit's
    * manifest build and its publish — a deterministic concurrent
    * commit. The seam resets itself first so `body`'s own commit does
    * not recurse. */
  private def raceOnce(body: => Unit): Unit =
    Lake.beforePublish = () => {
      Lake.beforePublish = () => ()
      body
    }

  /** (name, set-up on the fresh table, the DDL op). */
  private val ops: Seq[(String, String => Unit, String => Long)] = Seq(
    ("addCheckConstraint", _ => (),
      r => Lake.addCheckConstraint(spark, r, "v_pos", "v > 0")),
    ("dropCheckConstraint",
      r => { Lake.addCheckConstraint(spark, r, "k_nonneg", "k >= 0"); () },
      r => Lake.dropCheckConstraint(spark, r, "k_nonneg")),
    ("setTableProperties", _ => (),
      r => Lake.setTableProperties(spark, r, Map("owner" -> "eng"))),
    ("unsetTableProperties",
      r => { Lake.setTableProperties(spark, r, Map("owner" -> "eng")); () },
      r => Lake.unsetTableProperties(spark, r, Seq("owner"))),
    ("evolveSchema", _ => (),
      r => Lake.evolveSchema(spark, r, row(0).schema.add("w", IntegerType))),
    ("upgradeColumnMapping", _ => (),
      r => Lake.upgradeColumnMapping(spark, r)),
    ("renameNestedColumn",
      r => { Lake.upgradeColumnMapping(spark, r); () },
      r => Lake.renameNestedColumn(spark, r, Seq("meta", "x"), "x2")),
    ("renameColumn", _ => (),
      r => Lake.renameColumn(spark, r, "t", "txt")),
    ("dropColumnsAtPaths",
      r => { Lake.upgradeColumnMapping(spark, r); () },
      r => Lake.dropColumnsAtPaths(spark, r, Seq(Seq("v"), Seq("meta", "y")))),
    ("alterColumnDefaults", _ => (),
      r => Lake.alterColumnDefaults(spark, r, Seq("v" -> Some("7")))),
    ("addColumnsWithMetadata", _ => (),
      r => Lake.addColumnWithDefault(spark, r, "w", IntegerType, "3")),
    ("addColumnsAtPaths", _ => (),
      r => Lake.addColumnsAtPaths(spark, r,
        Seq((Seq("meta", "z"), IntegerType, None)))),
    ("alterColumnTypes", _ => (),
      r => Lake.alterColumnTypes(spark, r, Seq(Seq("v") -> LongType))))

  test("every DDL op loses its slot loudly to a concurrent append; the table stays the interloper's; a retry lands") {
    assert(ops.size === 13)
    ops.foreach { case (name, setUp, op) =>
      withClue(s"$name: ") {
        val root = tmpTable(s"graft-ddl-occ-$name")
        Lake.commitOverwrite(row(1), root, retain = 8)
        setUp(root)
        val schema = Lake.readCommitted(spark, root).schema
        val props = Lake.tableProperties(spark, root)
        val checks = Lake.checkConstraints(spark, root)
        val base = Lake.currentVersion(spark, root).get
        try {
          raceOnce {
            Lake.commitAppend(row(2), root, retain = 8)
            ()
          }
          intercept[java.util.ConcurrentModificationException](op(root))
        } finally Lake.beforePublish = () => ()
        // the live snapshot is the interloper's: its rows, under the
        // schema, properties and constraints the op found
        assert(Lake.currentVersion(spark, root) === Some(base + 1))
        val live = Lake.readCommitted(spark, root)
        assert(live.schema === schema)
        assert(live.select("k").collect().map(_.getLong(0)).toSet ===
          Set(1L, 2L))
        assert(Lake.tableProperties(spark, root) === props)
        assert(Lake.checkConstraints(spark, root) === checks)
        // the retry commits on top of the interloper, rows intact
        assert(op(root) === base + 2)
        assert(Lake.readCommitted(spark, root).count() === 2L)
      }
    }
  }

  test("an append racing ADD CONSTRAINT refuses instead of committing violating rows") {
    val root = tmpTable("graft-ddl-occ-check-append")
    Lake.commitOverwrite(row(1), root, retain = 8)
    try {
      raceOnce {
        Lake.addCheckConstraint(spark, root, "k_pos", "k > 0")
        ()
      }
      intercept[java.util.ConcurrentModificationException] {
        Lake.commitAppend(row(-5), root, retain = 8)
      }
    } finally Lake.beforePublish = () => ()
    assert(Lake.checkConstraints(spark, root).map(_._1) === Seq("k_pos"))
    val ks = Lake.readCommitted(spark, root).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(ks === Seq(1L))
    // the re-run validates against the constraint and refuses the row
    intercept[IllegalArgumentException] {
      Lake.commitAppend(row(-5), root, retain = 8)
    }
    // and a conforming append still rebases past the constraint commit
    Lake.commitAppend(row(3), root, retain = 8)
    assert(Lake.readCommitted(spark, root).count() === 2L)
  }
}
