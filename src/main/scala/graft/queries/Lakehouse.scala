package graft.queries

import graft.functions.TextFns
import graft.operators.{Dedup, Incremental, Ranking}
import graft.sources.{Lake, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse-layer queries: operators whose subject is the committed
  * TABLE FORMAT itself (manifest snapshots, stats, change feeds), not
  * the rows. Each builds a deterministic committed table from the
  * harness parquet under a scratch root, exercises the lake read path,
  * and oracles against plain SQL over the SAME base parquet — so the
  * commit/stat/feed machinery is under the hash, not just spec'd.
  *
  * The reference's lake story is a plain parquet dir per table
  * (/root/reference/dags/Load.py:6-9, Main.py:28-47); these queries
  * are the at-scale completion of that story (SURVEY.md §8).
  */
object Lakehouse {

  /** Deterministic scratch root per (query, sf-dir) within one JVM;
    * wiped before each build so replays commit the identical version
    * chain. Unique across JVMs via [[Q.runId]] so concurrent Verify
    * invocations (or a crashed prior run mid-write) never share paths. */
  private[queries] def scratchRoot(tag: String, sfDir: String): String = {
    val f = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_${tag}_" + Integer.toHexString(sfDir.hashCode) + "_" + Q.runId)
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete(); ()
    }
    if (f.exists) rm(f)
    f.toString
  }

  /** q129 oracle: the UNCAPPED band postings of the live snapshot,
    * re-derived from scratch — the same shingle/minhash/band-key
    * arithmetic as `Dedup.bandedSignatures` (q41/q103's SQL twin,
    * minus the read-time cap). `doc_id % 10 <> 3` is the final doc
    * set after the scenario's merge (base < 8, batch >= 8, deletes
    * = 3); NULL-text docs carry no shingles and are not indexed. */
  /** The sh/sigs/banded CTE chain deriving the uncapped band postings
    * of every doc satisfying `pred`, from scratch (shared by the q129
    * and q141 oracles; same arithmetic as `Dedup.bandedSignatures`). */
  private def lshBandedCtes(pred: String): String = {
    val p = graft.operators.Dedup.minhashP
    val sigs = graft.operators.Dedup.minhashCoeffs.take(12).zipWithIndex
      .map { case ((a, b), i) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % $p)) AS h$i"
      }.mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 3 until (b + 1) * 3).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $b AS band, CAST(('0x' || substr(md5(concat_ws('|', $cols)), 1, 15)) AS BIGINT) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(length(t) - 4, 1)),
       |      i -> CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT))) AS hs
       |  FROM (SELECT doc_id, lower(translate(text, ',;''', '   ')) AS t
       |        FROM documents WHERE ($pred) AND text IS NOT NULL)
       |  WHERE len(hs) > 0),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM sh),
       |banded AS (
       |  $bandSelects)""".stripMargin
  }

  private def lshIndexOracle: String =
    s"""WITH ${lshBandedCtes("doc_id % 10 <> 3")}
       |SELECT doc_id, band, bkey FROM banded
       |ORDER BY doc_id, band, bkey""".stripMargin

  /** q141 oracle: ground truth for BOTH maintained artifacts after the
    * erasure — the per-lang stats over surviving docs (the MV) and the
    * per-lang posting count of a from-scratch re-band of the surviving
    * corpus (the LSH index). */
  private def forgetOracle: String =
    s"""WITH ${lshBandedCtes("doc_id % 7 <> 2")},
       |surv AS (SELECT * FROM documents WHERE doc_id % 7 <> 2),
       |mv AS (
       |  SELECT lang, count(n_chars) AS cnt,
       |    CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       |    CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
       |      / nullif(count(n_chars), 0) AS avg_v
       |  FROM surv GROUP BY lang),
       |lang_post AS (
       |  SELECT s.lang, count(*) AS n_postings
       |  FROM banded b JOIN surv s USING (doc_id) GROUP BY s.lang)
       |SELECT mv.lang, mv.cnt, mv.sum_v, mv.avg_v,
       |  coalesce(lp.n_postings, 0) AS n_postings
       |FROM mv LEFT JOIN lang_post lp ON mv.lang = lp.lang
       |ORDER BY mv.lang""".stripMargin

  val all: Seq[Q] = Seq(

    // Manifest-stats data skipping: the documents table committed as
    // four key-ranged append batches (statsCols=doc_id), then a range
    // predicate read through readCommittedWhere — the pruner drops
    // every dir whose [min,max] excludes the range BEFORE the scan
    // plans (LakeSpec asserts the dir-level skipping; here the WHOLE
    // path — commit, stats lines, prune, carried-schema read, residual
    // filter — is under the oracle hash). At 100 TB on a key- or
    // time-ordered ingest this is the difference between scanning the
    // table and scanning the two dirs that can match.
    Q("q112_lake_skipping",
      """SELECT doc_id, source, lang, n_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 219
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_skip", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      // four contiguous key ranges — the layout an ordered ingest
      // produces; bounds derive from the data so every SF splits 4-way
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("doc_id"))
        ()
      }
      Lake.readCommittedWhere(s, root, col("doc_id").between(100L, 219L))
        .orderBy("doc_id")
    },

    // Manifest change feed: a committed orders table (v0) takes one
    // CDC merge batch — updates (+1000 price, version bump), deletes,
    // inserts — and changesBetween(v0, v1) must recover EXACTLY that
    // batch's net effect from the snapshot dir-sets alone: the merge
    // rewrote whole touched dirs, so the feed's job is separating
    // real changes from carried-over rewrites (null-safe column
    // compare) without reading the untouched dirs. Updates carry BOTH
    // images (Delta-CDF convention — what makes the feed retractable
    // for q115's maintained stats). The oracle recomputes the change
    // classes independently from base parquet. At 100 TB this is the
    // incremental-consumer primitive: downstreams fold O(changed
    // dirs) instead of re-scanning.
    Q("q113_lake_changefeed",
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |           FROM orders),
        |ins AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |          CAST(1 AS BIGINT) AS ver, 'insert' AS change_type
        |        FROM o WHERE o_orderkey % 11 = 3),
        |upd AS (SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |          o_orderstatus, CAST(1 AS BIGINT) AS ver,
        |          'update_postimage' AS change_type
        |        FROM o WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |          AND o_orderkey % 11 <> 3),
        |updpre AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |          CAST(0 AS BIGINT) AS ver, 'update_preimage' AS change_type
        |        FROM o WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |          AND o_orderkey % 11 <> 3),
        |del AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |          CAST(0 AS BIGINT) AS ver, 'delete' AS change_type
        |        FROM o WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
        |          AND o_orderkey % 11 <> 3)
        |SELECT * FROM ins UNION ALL SELECT * FROM upd
        |UNION ALL SELECT * FROM updpre UNION ALL SELECT * FROM del
        |ORDER BY o_orderkey, change_type""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_cdc", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val key = col("o_orderkey")
      // v0: everything except the %11==3 keys (they arrive as inserts),
      // spread over four ranged dirs so the merge touches a subset
      val base = orders.where(pmod(key, lit(11)) =!= 3).withColumn("ver", lit(0L))
      val maxId = orders.agg(max(key)).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          base.where(key >= b * step && key < (b + 1) * step), root, retain = 3,
          statsCols = Seq("o_orderkey"))
        ()
      }
      // v1 = one CDC merge: disjoint update/delete sets + fresh inserts
      val ups = orders
        .where(pmod(key, lit(5)) === 0 && pmod(key, lit(7)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val dels = orders
        .where(pmod(key, lit(7)) === 0 && pmod(key, lit(5)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
      val ins = orders.where(pmod(key, lit(11)) === 3)
      val changes = ups.withColumn("is_del", lit(false))
        .unionByName(dels.withColumn("is_del", lit(true)))
        .unionByName(ins.withColumn("is_del", lit(false)))
        .withColumn("ver", lit(1L))
      val v1 = Lake.mergeCommitted(s, root, changes, Seq("o_orderkey"),
        "ver", "is_del", retain = 3)
      Lake.changesBetween(s, root, v1 - 1, v1, Seq("o_orderkey"))
        .orderBy("o_orderkey", "change_type")
    },

    // Feed-maintained materialized view: per-status (count, sum, avg)
    // of order prices bootstrapped from the v0 snapshot, then folded
    // forward with ONLY the v0→v1 change feed — inserts and update
    // postimages add, deletes and update preimages subtract, DECIMAL
    // discipline end to end. The oracle recomputes the same stats
    // from scratch over the POST-merge table: maintaining through the
    // feed must be indistinguishable from starting over. This is the
    // lakehouse completion of q98's O(batch) refresh — the batch here
    // is not an append the caller hands over but the EXACT diff the
    // table format itself derives, so any downstream stat table
    // follows a 100 TB fact table at O(changed dirs) per commit.
    Q("q115_lake_feed_mv",
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |final AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |              AND o_orderkey % 11 <> 3
        |         THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        |  FROM o
        |  WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
        |             AND o_orderkey % 11 <> 3))
        |SELECT o_orderstatus, count(price) AS cnt,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |    / nullif(count(price), 0) AS avg_v
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_mv", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val key = col("o_orderkey")
      val base = orders.where(pmod(key, lit(11)) =!= 3).withColumn("ver", lit(0L))
      val v0 = Lake.commitOverwrite(base, root, retain = 3)
      // bootstrap the MV from the v0 snapshot
      val mv0 = Incremental.retractablePartials(
        Lake.readCommittedAt(s, root, v0), Seq("o_orderstatus"), "o_totalprice")
      // the q113 merge batch
      val ups = orders
        .where(pmod(key, lit(5)) === 0 && pmod(key, lit(7)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val dels = orders
        .where(pmod(key, lit(7)) === 0 && pmod(key, lit(5)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
      val ins = orders.where(pmod(key, lit(11)) === 3)
      val changes = ups.withColumn("is_del", lit(false))
        .unionByName(dels.withColumn("is_del", lit(true)))
        .unionByName(ins.withColumn("is_del", lit(false)))
        .withColumn("ver", lit(1L))
      val v1 = Lake.mergeCommitted(s, root, changes, Seq("o_orderkey"),
        "ver", "is_del", retain = 3)
      // fold ONLY the feed — the 100 TB table is never re-read
      val feed = Lake.changesBetween(s, root, v0, v1, Seq("o_orderkey"))
      Incremental.finalizeRetractable(
          Incremental.applyFeed(mv0, feed, Seq("o_orderstatus"), "o_totalprice"))
        .orderBy("o_orderstatus")
    },

    // Predicate DELETE (copy-on-write): documents committed as four
    // key-ranged append dirs, then DELETE WHERE doc_id∈[100,219] AND
    // lang='en' — the stats pruner reuses every dir whose key range
    // excludes [100,219] by reference and rewrites only the straddling
    // dirs with the full filter (LakeSpec additionally proves the
    // metadata-only whole-dir drop on exact-range deletes). The oracle
    // is the surviving multiset from plain SQL, with explicit
    // NULL-keeps-row DELETE semantics. At 100 TB this is the
    // retention-expiry primitive: DELETE WHERE ts < cutoff on a
    // time-ordered table is manifest surgery, zero data I/O.
    Q("q116_lake_delete",
      """SELECT doc_id, source, lang, n_chars
        |FROM documents
        |WHERE NOT coalesce(doc_id BETWEEN 100 AND 219 AND lang = 'en', FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_del", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("doc_id"))
        ()
      }
      Lake.deleteWhere(s, root,
        col("doc_id").between(100L, 219L) && col("lang") === "en")
      Lake.readCommitted(s, root).orderBy("doc_id")
    },

    // Predicate UPDATE (copy-on-write): orders committed as four
    // key-ranged dirs, then UPDATE SET o_totalprice += 1000 WHERE
    // o_orderkey∈[100,999] AND o_orderstatus='F' — dirs whose key
    // range excludes [100,999] are reused by reference; only the
    // overlapping dirs rewrite with the CASE WHEN fold. Row count is
    // invariant so the metadata count(*) chain carries (LakeSpec).
    Q("q117_lake_update",
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey BETWEEN 100 AND 999 AND o_orderstatus = 'F'
        |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_upd", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val maxId = orders.agg(max(col("o_orderkey"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          orders.where(col("o_orderkey") >= b * step &&
            col("o_orderkey") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("o_orderkey"))
        ()
      }
      Lake.updateWhere(s, root,
        col("o_orderkey").between(100L, 999L) && col("o_orderstatus") === "F",
        Map("o_totalprice" -> (col("o_totalprice") + 1000.0)))
      Lake.readCommitted(s, root)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Bloom-filter point-lookup skipping: documents committed as four
    // HASH-interleaved dirs (doc_id % 4) so every dir spans the full
    // key range — min/max stats prune NOTHING — with a per-dir Bloom
    // filter on doc_id in the manifest. The IN-list lookup reads only
    // the dirs whose filters might hold the keys (LakeSpec asserts the
    // skip set; here the whole commit→probe→read chain is under the
    // oracle hash). At 100 TB this is find-by-id on an unclustered
    // table: manifest-read planning cost, data I/O only where the key
    // can live — the skipping mode range stats structurally cannot
    // provide on hash-distributed keys.
    Q("q118_lake_pointlookup",
      """SELECT doc_id, source, lang, n_chars
        |FROM documents WHERE doc_id IN (37, 102, 251)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_bloom", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      (0L until 4L).foreach { b =>
        Lake.commitAppend(docs.where(pmod(col("doc_id"), lit(4)) === b),
          root, retain = 0, bloomCols = Seq("doc_id"))
        ()
      }
      Lake.readCommittedWhere(s, root, col("doc_id").isin(37L, 102L, 251L))
        .orderBy("doc_id")
    },

    // Two-hop incremental MV CHAIN: base fact table → MV1 (fine
    // groups: status × priority) → MV2 (coarse rollup: priority), each
    // hop a committed table maintained off its UPSTREAM's change feed.
    // One CDC merge on the base propagates down the chain as O(changed
    // groups) per hop — MV1 folds the base feed (q115's mechanism),
    // MV2 folds MV1's feed of partials (applyPartialFeed), and neither
    // hop ever re-reads its upstream in full. The oracle recomputes
    // MV2 from scratch over the post-merge table: a whole maintained
    // CHAIN must be indistinguishable from starting over. This is the
    // lakehouse DAG story at 100 TB: derived tables follow a fact
    // table at feed cost, transitively.
    Q("q121_lake_mv_chain",
      """WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
        |final AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |              AND o_orderkey % 11 <> 3
        |         THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        |  FROM o
        |  WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
        |             AND o_orderkey % 11 <> 3))
        |SELECT o_orderpriority, count(price) AS cnt,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |    / nullif(count(price), 0) AS avg_v
        |FROM final GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val base = scratchRoot("lake_mvc_base", d)
      val mv1Root = scratchRoot("lake_mvc_mv1", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      val key = col("o_orderkey")
      val v0rows = orders.where(pmod(key, lit(11)) =!= 3).withColumn("ver", lit(0L))
      val v0 = Lake.commitOverwrite(v0rows, base, retain = 3)
      val g1 = Seq("o_orderstatus", "o_orderpriority")
      // bootstrap both MVs; MV1 committed so it has its OWN feed
      val mv1v0 = Lake.commitOverwrite(
        Incremental.retractablePartials(
          Lake.readCommittedAt(s, base, v0), g1, "o_totalprice"),
        mv1Root, retain = 3)
      val mv2_0 = Incremental.rollupPartials(
        Lake.readCommittedAt(s, mv1Root, mv1v0), Seq("o_orderpriority"))
      // the q113 merge batch hits the base
      val ups = orders
        .where(pmod(key, lit(5)) === 0 && pmod(key, lit(7)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val dels = orders
        .where(pmod(key, lit(7)) === 0 && pmod(key, lit(5)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
      val ins = orders.where(pmod(key, lit(11)) === 3)
      val changes = ups.withColumn("is_del", lit(false))
        .unionByName(dels.withColumn("is_del", lit(true)))
        .unionByName(ins.withColumn("is_del", lit(false)))
        .withColumn("ver", lit(1L))
      val v1 = Lake.mergeCommitted(s, base, changes, Seq("o_orderkey"),
        "ver", "is_del", retain = 3)
      // hop 1: MV1 folds the BASE feed, commits its refreshed state
      val feed1 = Lake.changesBetween(s, base, v0, v1, Seq("o_orderkey"))
      val mv1v1 = Lake.commitOverwrite(
        Incremental.applyFeed(
          Lake.readCommittedAt(s, mv1Root, mv1v0), feed1, g1, "o_totalprice"),
        mv1Root, retain = 3)
      // hop 2: MV2 folds MV1's OWN feed of partials — the base table
      // is never touched again
      val feed2 = Lake.changesBetween(s, mv1Root, mv1v0, mv1v1, g1)
      Incremental.finalizeRetractable(
          Incremental.applyPartialFeed(mv2_0, feed2, Seq("o_orderpriority")))
        .orderBy("o_orderpriority")
    },

    // Z-order clustering + file-level skipping: lineitem committed,
    // clustered on (l_partkey, l_suppkey) — 16-bit rank scaling, bit
    // interleave, range-partitioned files, per-file min/max in the
    // manifest — then a two-column range read through the file
    // pruner. The whole chain (rewrite, stats pass, prune, residual
    // filter) is under the oracle hash; LakeSpec asserts the skipping
    // ratio itself. This is the OPTIMIZE-ZORDER answer to "my 100 TB
    // fact table is filtered on two dimensions": either column's
    // range predicate drops most files before the scan plans.
    Q("q114_lake_zorder",
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 10 AND 49 AND l_suppkey BETWEEN 2 AND 5
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_z", d)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      Lake.commitOverwrite(li, root, retain = 1)
      Lake.clusterCommitted(s, root, Seq("l_partkey", "l_suppkey"),
        targetBytes = 128L * 1024)
      Lake.readCommittedWhere(s, root,
          col("l_partkey").between(10L, 49L) && col("l_suppkey").between(2L, 5L))
        .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    },

    // The COMPLETE incremental ingestion loop on the lakehouse — the
    // composition every training-data pipeline runs per arriving
    // batch: raw batches land as manifest commits, the CHANGE FEED
    // (changesSince cursor, O(batch) — never a rescan of raw) drives
    // quality-gate → exact-dedup-vs-curated → append into the curated
    // committed table, and the answer is the curated snapshot. Batch
    // boundaries matter: a batch-2 duplicate of a batch-1 doc loses
    // to the curated row even when its doc_id is smaller, so the
    // oracle ranks per fingerprint by (batch_no, doc_id) — the exact
    // arrival-order semantics. At 100 TB the anti-join ships only the
    // batch and the curated FP column (key-only); the Bloom-prefiltered
    // q96 contract is the drop-in once the curated side outgrows a
    // shuffle, and `bloomCols=Seq("fp")` on the curated commits feeds
    // the q118 point-lookup skipping for free.
    Q("q124_lake_ingest_pipeline",
      s"""WITH g AS (
         |  SELECT doc_id, source, text,
         |    CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS batch_no
         |  FROM documents
         |  WHERE text IS NOT NULL AND len(${Text.oTok}) >= 5),
         |k AS (
         |  SELECT doc_id, source,
         |    md5(lower(translate(text, ',;''', '   '))) AS fp, batch_no,
         |    row_number() OVER (
         |      PARTITION BY md5(lower(translate(text, ',;''', '   ')))
         |      ORDER BY batch_no, doc_id) AS rn
         |  FROM g)
         |SELECT doc_id, source, fp FROM k WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val raw = scratchRoot("lake_ingest_raw", d)
      val curated = scratchRoot("lake_ingest_cur", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val batches = Seq(
        docs.where(pmod(col("doc_id"), lit(3)) =!= 2),
        docs.where(pmod(col("doc_id"), lit(3)) === 2))
      var cursor: Option[Long] = None
      batches.foreach { b =>
        Lake.commitAppend(b, raw, retain = 3)
        val (feed, v) = Lake.changesSince(s, raw, cursor, Seq("doc_id")).get
        cursor = Some(v)
        val inserts = feed.where(col("change_type") === "insert").drop("change_type")
        val gated = inserts.where(
          size(TextFns.tokens(TextFns.normalize(col("text")))) >= 5)
        val keyed = gated.select(col("doc_id"), col("source"),
          TextFns.fingerprint(col("text")).as("fp"))
        // within-batch keep-first per fingerprint, then curated blocks
        val batchKept = keyed
          .withColumn("__rn",
            row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .where(col("__rn") === 1).drop("__rn")
        val survivors = Lake.currentVersion(s, curated) match {
          case Some(_) => batchKept.join(
            Lake.readCommitted(s, curated).select("fp"), Seq("fp"), "left_anti")
          case None => batchKept
        }
        Lake.commitAppend(survivors.select("doc_id", "source", "fp"),
          curated, retain = 3, bloomCols = Seq("fp"))
        ()
      }
      Lake.readCommitted(s, curated)
        .select("doc_id", "source", "fp").orderBy("doc_id")
    },

    // Feed-maintained LSH band index: the near-dup index (q103's
    // stored half) follows its committed corpus through the CHANGE
    // FEED — inserts band, deletes retract by key, the stored side
    // never re-bands — and the maintained index equals a from-scratch
    // re-band of the live snapshot (the oracle). The cap q103 applies
    // stays a READ-time guard by design: it cannot be maintained
    // under deletes (a bucket dropping back under the cap would need
    // members the capped table forgot), which is why the stored
    // postings are uncapped. Per batch this is O(batch) banding plus
    // one key anti-join — the dedup-tier member of the q105/q115/q126
    // incremental-maintenance family.
    Q("q129_feed_maintained_lsh", lshIndexOracle) { (s, d) =>
      val docsRoot = scratchRoot("lake_lsh_docs", d)
      val idxRoot = scratchRoot("lake_lsh_idx", d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val key = col("doc_id")
      val v0 = Lake.commitOverwrite(
        docs.where(pmod(key, lit(10)) < 8).withColumn("ver", lit(0L)),
        docsRoot, retain = 3)
      Lake.commitOverwrite(
        Dedup.bandedSignatures(
          Lake.readCommittedAt(s, docsRoot, v0).where(col("text").isNotNull),
          "doc_id", "text"),
        idxRoot, retain = 3)
      val changes = docs.where(pmod(key, lit(10)) >= 8)
        .withColumn("is_del", lit(false))
        .unionByName(docs.where(pmod(key, lit(10)) === 3)
          .withColumn("is_del", lit(true)))
        .withColumn("ver", lit(1L))
      val v1 = Lake.mergeCommitted(s, docsRoot, changes, Seq("doc_id"),
        "ver", "is_del", retain = 3)
      Lake.commitOverwrite(
        Dedup.applyBandFeed(
          Lake.readCommitted(s, idxRoot),
          Lake.changesBetween(s, docsRoot, v0, v1, Seq("doc_id")),
          "doc_id", "text"),
        idxRoot, retain = 3)
      Lake.readCommitted(s, idxRoot)
        .select(col("doc_id"), col("band"), col("bkey"))
        .orderBy("doc_id", "band", "bkey")
    },

    // SQL-native lake reads: the documents table committed as four
    // key-ranged appends (the q112 layout), REGISTERED AS A VIEW, and
    // queried through spark.sql — the LakeFileIndex hands Catalyst's
    // planning-time data filters to the manifest pruner, so the range
    // predicate skips dirs through the standard scan path (LakeSqlSpec
    // asserts the file counts; here the whole path — commit, register,
    // SQL parse, prune, vectorized scan, aggregate — is under the
    // oracle hash). At 100 TB this is ad-hoc SQL over the lake paying
    // one manifest read of planning cost instead of a table listing.
    Q("q132_lake_sql",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 339
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_sql", d)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("doc_id"))
        ()
      }
      Lake.registerSql(s, "lake_sql_docs", root)
      s.sql("""SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
              |FROM lake_sql_docs WHERE doc_id BETWEEN 100 AND 339
              |GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // The graft-lake format's full loop under the oracle hash: the
    // documents table lands in a raw committed table by batch writes
    // (df.write.format), then an incremental ETL — readStream from the
    // raw table, token gate + count, writeStream back into a curated
    // table — runs once per ingest half. The SECOND stream run
    // processes ONLY the delta (version offsets; its checkpoint
    // carries lineage for the effectively-once sink commits), yet the
    // curated table must equal the one-shot batch transform the SQL
    // twin computes. At 100 TB this is the standing shape of every
    // derived table: O(new dirs) per trigger, never O(table).
    Q("q133_lake_stream_etl",
      s"""WITH t AS (
         |  SELECT doc_id, lang, len(${Text.oTok}) AS n_toks
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, lang, n_toks FROM t WHERE n_toks >= 5
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val raw = scratchRoot("lake_setl_raw", d)
      val out = scratchRoot("lake_setl_out", d)
      val ckpt = scratchRoot("lake_setl_ckpt", d)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      def run(): Unit = {
        val q = s.readStream.format("graft-lake").option("root", raw).load()
          .where(col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            size(TextFns.tokens(TextFns.normalize(col("text"))))
              .cast("long").as("n_toks"))
          .where(col("n_toks") >= 5)
          .writeStream.format("graft-lake").option("root", out)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      Seq(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
      ).foreach { half =>
        half.write.format("graft-lake").option("root", raw)
          .option("retain", "3").mode("append").save()
        run()
      }
      Lake.readCommitted(s, out)
        .select("doc_id", "lang", "n_toks").orderBy("doc_id")
    },

    // The STREAMED change feed closing the q113/q115 loop: the same
    // merge-heavy history (4 ranged appends + one CDC merge with
    // disjoint update/delete/insert sets) is consumed through
    // readChangeFeed=true — one micro-batch per version
    // (maxVersionsPerTrigger=1), each carrying exact row-level
    // insert/delete/update images — and FOLDED into a replica table by
    // keyed MERGE commits. The replica's final state is under the
    // oracle hash, so the whole path (version offsets, per-version
    // key-diff, retraction-aware fold, effectively-once checkpoint)
    // must reproduce the plain-SQL truth. At 100 TB this is the
    // standing shape of every derived table over a MUTATING source:
    // O(changed dirs) per trigger, retractions exact, never O(table).
    Q("q138_lake_cdf_stream",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |            AND o_orderkey % 11 <> 3
        |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
        |           AND o_orderkey % 11 <> 3)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_cdfs_src", d)
      val replica = scratchRoot("lake_cdfs_rep", d)
      val ckpt = scratchRoot("lake_cdfs_ckpt", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val key = col("o_orderkey")
      val base = orders.where(pmod(key, lit(11)) =!= 3).withColumn("ver", lit(0L))
      val maxId = orders.agg(max(key)).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          base.where(key >= b * step && key < (b + 1) * step), root, retain = 8,
          statsCols = Seq("o_orderkey"))
        ()
      }
      val ups = orders
        .where(pmod(key, lit(5)) === 0 && pmod(key, lit(7)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val dels = orders
        .where(pmod(key, lit(7)) === 0 && pmod(key, lit(5)) =!= 0 &&
          pmod(key, lit(11)) =!= 3)
      val ins = orders.where(pmod(key, lit(11)) === 3)
      Lake.mergeCommitted(s, root,
        ups.withColumn("is_del", lit(false))
          .unionByName(dels.withColumn("is_del", lit(true)))
          .unionByName(ins.withColumn("is_del", lit(false)))
          .withColumn("ver", lit(1L)),
        Seq("o_orderkey"), "ver", "is_del", retain = 8)
      val q = s.readStream.format("graft-lake").option("root", root)
        .option("readChangeFeed", "true").option("keyCols", "o_orderkey")
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val changes = batch
            .where(col("change_type") =!= "update_preimage")
            .withColumn("is_del", col("change_type") === "delete")
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderstatus"),
              col("commit_version"), col("is_del"))
          // bootstrap on the first (never-empty: v0 inserts) batch;
          // afterwards mergeCommitted no-ops on empty change sets
          if (Lake.currentVersion(s, replica).isEmpty)
            Lake.commitOverwrite(
              changes.where(!col("is_del")).drop("is_del"), replica,
              retain = 8)
          else
            Lake.mergeCommitted(s, replica, changes, Seq("o_orderkey"),
              "commit_version", "is_del", retain = 8)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      Lake.readCommitted(s, replica)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // Right-to-be-forgotten propagation — the GDPR-erasure composition
    // every governed training-data platform needs: ONE predicate
    // DELETE on the source-of-truth table, and every derived artifact
    // follows from the change feed alone. The erasure batch
    // (doc_id % 7 = 2) deletes copy-on-write; the feed's retraction
    // rows then fold the per-lang stats MV (q115 machinery) and
    // retract the LSH band index's postings (q129 machinery) — the
    // 100 TB story is O(changed dirs + affected keys) per artifact,
    // with no artifact ever re-reading the corpus. The oracle
    // recomputes BOTH artifacts from scratch over the surviving docs,
    // so "forgotten everywhere, exactly" is under one hash.
    Q("q141_forget_pipeline", Lakehouse.forgetOracle) { (s, d) =>
      val docsRoot = scratchRoot("lake_forget_docs", d)
      val idxRoot = scratchRoot("lake_forget_idx", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "text", "n_chars")
      val v0 = Lake.commitOverwrite(docs, docsRoot, retain = 3)
      // derived artifact 1: the per-lang stats MV, bootstrapped once
      val mv0 = Incremental.retractablePartials(
        Lake.readCommittedAt(s, docsRoot, v0), Seq("lang"), "n_chars")
      // derived artifact 2: the stored LSH band index
      Lake.commitOverwrite(
        Dedup.bandedSignatures(
          Lake.readCommittedAt(s, docsRoot, v0).where(col("text").isNotNull),
          "doc_id", "text"),
        idxRoot, retain = 3)
      // the erasure request, copy-on-write on the source of truth
      val v1 = Lake.deleteWhere(s, docsRoot,
        pmod(col("doc_id"), lit(7)) === 2, retain = 3)
      val feed = Lake.changesBetween(s, docsRoot, v0, v1, Seq("doc_id"))
      // both artifacts fold THE SAME feed — nothing re-reads the corpus
      val mv = Incremental.finalizeRetractable(
        Incremental.applyFeed(mv0, feed, Seq("lang"), "n_chars"))
      Lake.commitOverwrite(
        Dedup.applyBandFeed(
          Lake.readCommitted(s, idxRoot), feed, "doc_id", "text"),
        idxRoot, retain = 3)
      val langPost = Lake.readCommitted(s, idxRoot)
        .join(Lake.readCommitted(s, docsRoot).select("doc_id", "lang"),
          Seq("doc_id"))
        .groupBy("lang").agg(count(lit(1)).as("n_postings"))
      mv.join(langPost, Seq("lang"), "left")
        .withColumn("n_postings", coalesce(col("n_postings"), lit(0L)))
        .orderBy("lang")
    },

    // SQL row-level DELETE on a lake CATALOG table, under the oracle
    // hash: the q116 COW delete driven through the `DELETE FROM`
    // spelling (GraftLakeDmlRule → Lake.deleteWhere) and read back
    // through plain `SELECT` on the same catalog table — the DML
    // command refreshes the relation, so the SELECT serves the
    // post-delete snapshot with no REFRESH. Dirs whose key range
    // excludes the predicate are reused by reference, exactly as in
    // the programmatic path (same pruner, same manifest commit).
    Q("q145_sql_delete",
      """SELECT doc_id, source, lang, n_chars
        |FROM documents
        |WHERE NOT coalesce(doc_id BETWEEN 200 AND 399 AND lang = 'fr', FALSE)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("sql_del", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("doc_id"))
        ()
      }
      s.sql("DROP TABLE IF EXISTS sql_del_docs")
      s.sql(s"CREATE TABLE sql_del_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("DELETE FROM sql_del_docs WHERE doc_id BETWEEN 200 AND 399 AND lang = 'fr'")
      s.sql("SELECT doc_id, source, lang, n_chars FROM sql_del_docs ORDER BY doc_id")
    },

    // SQL MERGE INTO a lake catalog table, under the oracle hash: the
    // canonical warehouse upsert — customers below the key midpoint
    // are the committed target, per-customer order totals are the
    // source; a conditional DELETE outranks the UPDATE, non-matching
    // totals INSERT. The executor (Lake.mergeInto) probes which
    // snapshot dirs hold matched keys and rewrites only those; the
    // oracle replays the clause semantics as a LEFT JOIN + anti-join
    // UNION in plain SQL. Totals go through DECIMAL on both engines
    // so the matched-row arithmetic is bit-identical.
    Q("q146_sql_merge",
      """WITH tgt AS MATERIALIZED (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_custkey <= (SELECT max(c_custkey) / 2 FROM customer)),
        |src AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey)
        |SELECT t.c_custkey,
        |  CASE WHEN s.o_custkey IS NOT NULL THEN t.c_acctbal + s.total
        |       ELSE t.c_acctbal END AS c_acctbal
        |FROM tgt t LEFT JOIN src s ON t.c_custkey = s.o_custkey
        |WHERE NOT coalesce(s.total > 300000.0, FALSE)
        |UNION ALL
        |SELECT s.o_custkey AS c_custkey, s.total AS c_acctbal
        |FROM src s
        |WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.c_custkey = s.o_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("sql_merge", d)
      val cust = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      val maxK = cust.agg(max(col("c_custkey"))).collect().head.getLong(0)
      val tgt = cust.where(col("c_custkey") <= maxK / 2)
      val step = maxK / 2 / 2 + 1
      (0L until 2L).foreach { b =>
        Lake.commitAppend(
          tgt.where(col("c_custkey") >= b * step && col("c_custkey") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("c_custkey"))
        ()
      }
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
        .createOrReplaceTempView("sql_merge_src")
      s.sql("DROP TABLE IF EXISTS sql_merge_tgt")
      s.sql(s"CREATE TABLE sql_merge_tgt USING `graft-lake` OPTIONS (root '$root')")
      s.sql("""MERGE INTO sql_merge_tgt t USING sql_merge_src s
        |ON t.c_custkey = s.o_custkey
        |WHEN MATCHED AND s.total > 300000.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.total
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
        |  VALUES (s.o_custkey, s.total)""".stripMargin)
      s.sql("SELECT c_custkey, c_acctbal FROM sql_merge_tgt ORDER BY c_custkey")
    },

    // Hive-style partition columns as first-class lake prune keys: the
    // orders fact lands YEAR-partitioned (one manifest dir per year per
    // ingest batch — the layout every date-partitioned 100 TB fact
    // table uses; the second batch INHERITS the declared layout), and
    // the SQL year-IN predicate prunes whole dirs at PLANNING time via
    // the manifest's exact #part_ values, before stats/bloom fire and
    // before any file is opened (LakeSpec asserts the scanned-file
    // count; this query puts the answer under the hash). Partition
    // columns stay IN the data files, so time travel, clone,
    // compaction and COW rewrites compose unchanged.
    Q("q147_lake_partitioned",
      """SELECT o_orderkey, o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |FROM orders
        |WHERE year(o_orderdate) IN (1996, 1998)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_part", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 0, partitionBy = Seq("o_year"))
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 0)
      Lake.registerSql(s, "lake_part_orders", root)
      s.sql("""SELECT o_orderkey, o_custkey, o_year, o_totalprice
              |FROM lake_part_orders WHERE o_year IN (1996, 1998)
              |ORDER BY o_orderkey""".stripMargin)
    },

    // SHOW PARTITIONS from the manifest alone, under the oracle hash:
    // the q147 layout (year-partitioned orders, two parity ingest
    // batches) inspected through Lake.partitionValues — one manifest
    // read, no data I/O, no listing. Each year's dir count equals the
    // number of parity batches that contained it, which the oracle
    // replays as count(DISTINCT o_orderkey % 2) per year — so the
    // manifest's partition METADATA itself (values, types, dir
    // multiplicity) is what hashes, not a scan of the data.
    Q("q149_show_partitions",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(count(DISTINCT o_orderkey % 2) AS BIGINT) AS n_dirs
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_showpart", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 0, partitionBy = Seq("o_year"))
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 0)
      Lake.partitionValues(s, root).orderBy("o_year")
    },

    // Dynamic dir pruning for star joins, under the oracle hash — the
    // lakehouse DPP pattern: the year-partitioned orders fact joins a
    // FILTERED derived dimension (the top-2 revenue years), and the
    // dim's two keys collect first so the fact read prunes to 2-of-7
    // partitions before the join plans (LakeSpec gates the dir
    // count). At 100 TB this is `fact ⋈ filtered-calendar-dim` as
    // O(matching partitions) I/O instead of a full fact scan. All
    // money goes through DECIMAL on both engines.
    Q("q150_star_prune",
      """WITH f AS MATERIALIZED (
        |  SELECT o_orderkey,
        |    CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |  FROM orders),
        |dim AS MATERIALIZED (
        |  SELECT o_year,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS year_total
        |  FROM f GROUP BY o_year ORDER BY year_total DESC, o_year LIMIT 2)
        |SELECT f.o_orderkey, f.o_year AS o_year, f.o_totalprice,
        |  d.year_total
        |FROM f JOIN dim d ON f.o_year = d.o_year
        |ORDER BY f.o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_starprune", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders, root, retain = 0,
        partitionBy = Seq("o_year"))
      val dim = orders.groupBy("o_year")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("year_total"))
        .orderBy(desc("year_total"), asc("o_year")).limit(2)
        .persist() // used twice: the key collect + the join build side
      val fact = Lake.readCommittedDimPruned(s, root, "o_year",
        dim.select("o_year"))
      fact.join(broadcast(dim), Seq("o_year"))
        .select(col("o_orderkey"), col("o_year"), col("o_totalprice"),
          col("year_total"))
        .orderBy("o_orderkey")
    },

    // SQL UPDATE on a lake catalog table, under the oracle hash — the
    // q117 copy-on-write semantics spelled `UPDATE … SET … WHERE`
    // (GraftLakeDmlRule → Lake.updateWhere): dirs whose key range
    // excludes [300,1299] are reused by reference, only the straddling
    // dirs rewrite with the CASE WHEN fold, and the post-update SELECT
    // serves the new snapshot without a REFRESH. Completes the SQL DML
    // triple under the hash (q145 DELETE, q146 MERGE, this UPDATE).
    Q("q151_sql_update",
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey BETWEEN 300 AND 1299 AND o_orderstatus = 'O'
        |       THEN o_totalprice + 500.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("sql_upd", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val maxId = orders.agg(max(col("o_orderkey"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          orders.where(col("o_orderkey") >= b * step &&
            col("o_orderkey") < (b + 1) * step),
          root, retain = 0, statsCols = Seq("o_orderkey"))
        ()
      }
      s.sql("DROP TABLE IF EXISTS sql_upd_orders")
      s.sql(s"CREATE TABLE sql_upd_orders USING `graft-lake` OPTIONS (root '$root')")
      s.sql("""UPDATE sql_upd_orders SET o_totalprice = o_totalprice + 500.0
              |WHERE o_orderkey BETWEEN 300 AND 1299
              |  AND o_orderstatus = 'O'""".stripMargin)
      s.sql("""SELECT o_orderkey, o_orderstatus, o_totalprice
              |FROM sql_upd_orders ORDER BY o_orderkey""".stripMargin)
    },

    // SQL time travel under the oracle hash: orders committed (v0),
    // COW-updated (v1), then ONE SQL statement joins both versions of
    // the same catalog table — the current snapshot through
    // `TIMESTAMP AS OF` (a far-future constant resolves to the latest
    // commit, Delta's commit-timestamp semantics) and the pre-update
    // snapshot through `VERSION AS OF 0` — so the standard grammar,
    // the hint-batch resolution rule, the pinned FileIndex reads, and
    // the per-version isolation all sit under the hash. At 100 TB this
    // is audit/debug SQL over retained snapshots: each side plans from
    // its own manifest, no copy of the table is ever made.
    Q("q152_sql_time_travel",
      """SELECT o_orderkey, o_totalprice AS price_v0,
        |  CASE WHEN o_orderstatus = 'F'
        |       THEN o_totalprice + 250.0 ELSE o_totalprice END AS price_cur
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("sql_tt", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Lake.commitOverwrite(orders, root, retain = 8,
        statsCols = Seq("o_orderkey"))
      Lake.updateWhere(s, root, col("o_orderstatus") === "F",
        Map("o_totalprice" -> (col("o_totalprice") + 250.0)), retain = 8)
      s.sql("DROP TABLE IF EXISTS sql_tt_orders")
      s.sql(s"CREATE TABLE sql_tt_orders USING `graft-lake` OPTIONS (root '$root')")
      s.sql("""SELECT cur.o_orderkey, v0.o_totalprice AS price_v0,
              |  cur.o_totalprice AS price_cur
              |FROM sql_tt_orders TIMESTAMP AS OF '9999-01-01 00:00:00' cur
              |JOIN sql_tt_orders VERSION AS OF 0 v0
              |  ON cur.o_orderkey = v0.o_orderkey
              |ORDER BY cur.o_orderkey""".stripMargin)
    },

    // Partition pruning AND z-order file skipping in ONE scan, under
    // the oracle hash — the q147 + q114 composition: even keys land
    // year-partitioned and get z-ordered PER PARTITION (Delta's
    // OPTIMIZE ZORDER BY semantics — each year dir rewrites clustered
    // with per-file (o_year, o_custkey) ranges, keeping its exact
    // #part_ values); odd keys then append and INHERIT the declared
    // layout. A (year = Y AND custkey <= mid) read prunes every
    // non-matching year dir — clustered AND appended — by partition
    // VALUE and the kept clustered dir's files by their z-order
    // ranges (LakeSpec gates both skip counts). This is the real
    // 100 TB maintenance arc: OPTIMIZE the cold bulk, keep ingesting
    // partitioned, lose neither pruning.
    Q("q155_part_zorder_scan",
      """SELECT o_orderkey, o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |FROM orders
        |WHERE year(o_orderdate) = 1996
        |  AND o_custkey <= (SELECT max(o_custkey) // 2 FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_pz", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      val midCust = orders.agg(max(col("o_custkey")))
        .collect().head.getLong(0) / 2
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 8, partitionBy = Seq("o_year"))
      Lake.clusterCommitted(s, root, Seq("o_year", "o_custkey"),
        targetBytes = 64 * 1024, retain = 8)
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 8)
      Lake.readCommittedWhere(s, root,
          col("o_year") === 1996L && col("o_custkey") <= midCust)
        .orderBy("o_orderkey")
    },

    // SHOW PARTITIONS as SQL — the q149 metadata report through the
    // `graft_partitions('<root>')` table-valued function (registered
    // by GraftExtensions), so the spelling every operator types
    // (`SELECT … FROM graft_partitions(…)`) is itself under the
    // oracle hash. Same layout and oracle shape as q149: the answer
    // comes from ONE manifest read, no data I/O — at 100 TB the
    // layout inspection costs KBs. graft_history (DESCRIBE HISTORY)
    // rides the same registration, spec-pinned in LakeSqlSpec.
    Q("q156_sql_show_partitions",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(count(DISTINCT o_orderkey % 2) AS BIGINT) AS n_dirs
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_sqlshowpart", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 0, partitionBy = Seq("o_year"))
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 0)
      s.sql(s"""SELECT o_year, n_dirs FROM graft_partitions('$root')
               |ORDER BY o_year""".stripMargin)
    },

    // The composed 100 TB fact layout on LAKE tables, under the oracle
    // hash: orders partitioned by year AND hash-bucketed on custkey,
    // the customer dim co-bucketed on the same key — the year filter
    // prunes whole partition dirs at planning and the join reads both
    // sides bucket-aligned with zero exchanges (BucketingSpec gates
    // the plan, including COW-update survival; broadcast is live here
    // so the HASH gates only the answer). Partition pruning kills the
    // scan, bucketing kills the join shuffle, OCC/time-travel/feed
    // ride along — one table serves all three stories at once.
    Q("q157_lake_composed_layout",
      """SELECT o_orderkey, o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice,
        |  c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE year(o_orderdate) = 1996
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val factRoot = scratchRoot("lake_pb_fact", d)
      val dimRoot = scratchRoot("lake_pb_dim", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders, factRoot, retain = 0,
        partitionBy = Seq("o_year"), bucketBy = Some((4, Seq("o_custkey"))))
      Lake.commitOverwrite(
        Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
        dimRoot, retain = 0, bucketBy = Some((4, Seq("c_custkey"))))
      Lake.sqlTable(s, factRoot).where(col("o_year") === 1996L)
        .join(Lake.readBucketed(s, dimRoot),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_year"),
          col("o_totalprice"), col("c_acctbal"))
        .orderBy("o_orderkey")
    },

    // Predicate-scoped OPTIMIZE under the oracle hash — how OPTIMIZE
    // actually runs at 100 TB: the q147 scenario (year-partitioned
    // orders, two fragmented parity batches) gets `OPTIMIZE … WHERE
    // o_year = 1996` — ONLY that year's two dirs rewrite z-ordered
    // (per-file ranges), every other partition carries by reference,
    // never read (LakeSpec gates the carried-dir set). The read then
    // spans one OPTIMIZED partition and one CARRIED partition, so
    // "scoping the rewrite is invisible to the answer" is what hashes
    // (same oracle as q147).
    Q("q158_optimize_where",
      """SELECT o_orderkey, o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |FROM orders
        |WHERE year(o_orderdate) IN (1996, 1998)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_optwhere", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 8, partitionBy = Seq("o_year"))
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 8)
      Lake.clusterCommitted(s, root, Seq("o_year", "o_custkey"),
        targetBytes = 64 * 1024, retain = 8,
        where = Some(col("o_year") === 1996L))
      Lake.readCommittedWhere(s, root, col("o_year").isin(1996L, 1998L))
        .orderBy("o_orderkey")
    },

    // Delta's `table_changes` in SQL, under the oracle hash: orders
    // land as THREE key-ranged append commits (v0, v1, v2), and
    // `FROM graft_changes('<root>', 0, 2, 'o_orderkey')` answers the
    // exact NET row-level changes that turn snapshot v0 into v2 —
    // for an append chain, precisely the second and third batches as
    // inserts, which the oracle replays from the key ranges alone.
    // The TVF resolves to the change-feed PLAN (per-version diffs
    // read only changed dirs), so ad-hoc CDC inspection costs
    // O(changed dirs) at any table size — the q113 machinery with a
    // SQL spelling.
    Q("q159_sql_table_changes",
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o_orderkey, o_totalprice, 'insert' AS change_type
        |FROM orders, m
        |WHERE o_orderkey > mx // 3
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_sqlchanges", d)
      val orders = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val maxId = orders.agg(max(col("o_orderkey"))).collect().head.getLong(0)
      val third = maxId / 3
      Lake.commitAppend(orders.where(col("o_orderkey") <= third), root,
        retain = 8)
      Lake.commitAppend(orders.where(col("o_orderkey") > third &&
        col("o_orderkey") <= 2 * third), root, retain = 8)
      Lake.commitAppend(orders.where(col("o_orderkey") > 2 * third), root,
        retain = 8)
      s.sql(s"""SELECT o_orderkey, o_totalprice, change_type
               |FROM graft_changes('$root', 0, 2, 'o_orderkey')
               |ORDER BY o_orderkey""".stripMargin)
    },

    // RESTORE under the oracle hash — the rollback story: orders land
    // (v0), take a bad COW update (v1) and a bad COW delete (v2), and
    // ONE manifest write (Lake.restoreCommitted — v0's immutable dirs
    // referenced verbatim, zero data I/O at any table size) rolls the
    // live table back. The oracle is the ORIGINAL table: a restore
    // must be indistinguishable from the edits never happening, while
    // history stays readable behind it and the change feed emits the
    // exact revivals (LakeSpec pins both). This is the operational
    // answer to a bad pipeline deploy at 100 TB: seconds, not a
    // re-load.
    Q("q160_restore",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_restore", d)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Lake.commitOverwrite(orders, root, retain = 8,
        statsCols = Seq("o_orderkey"))
      Lake.updateWhere(s, root, col("o_orderstatus") === "F",
        Map("o_totalprice" -> (col("o_totalprice") + 100.0)), retain = 8)
      Lake.deleteWhere(s, root, col("o_orderkey") % 10 === 3, retain = 8)
      Lake.restoreCommitted(s, root, 0L, retain = 8)
      Lake.readCommitted(s, root).orderBy("o_orderkey")
    },

    // CHECK constraints under the oracle hash — the DLT-expectations /
    // Delta-CHECK story: a curated table declares `o_orderkey % 2 = 0`
    // (its partition discipline), a conforming append commits, and a
    // violating append REFUSES before anything stages (one aggregate
    // job over the batch, never the table). The hash is the final
    // table: if the gate ever let the bad batch through, the odd keys
    // would land and the oracle (evens only) would mismatch — "the
    // constraint actually blocked it" is what hashes. At 100 TB this
    // is the write-side quality gate every curated training corpus
    // runs: O(batch) validation riding each commit.
    Q("q161_check_constraint",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_check", d)
      val orders = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val maxId = orders.agg(max(col("o_orderkey"))).collect().head.getLong(0)
      val evens = orders.where(col("o_orderkey") % 2 === 0)
      Lake.commitOverwrite(evens.where(col("o_orderkey") <= maxId / 2),
        root, retain = 8)
      Lake.addCheckConstraint(s, root, "evens_only", "o_orderkey % 2 = 0")
      Lake.commitAppend(evens.where(col("o_orderkey") > maxId / 2), root,
        retain = 8)
      val blocked = scala.util.Try(
        Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
          retain = 8)).isFailure
      require(blocked, "the violating batch must refuse")
      Lake.readCommitted(s, root).orderBy("o_orderkey")
    },

    // LOSSLESS TYPE WIDENING under the oracle hash — Delta's
    // type-widening evolution: the first half of orders lands with
    // o_orderkey as INT and o_totalprice as FLOAT (the types an early
    // ingest chose), the second half arrives LONG/DOUBLE and the
    // schema WIDENS in place — the old dirs read upcast, nothing
    // rewrites. The oracle reads the same rows as BIGINT/DOUBLE from
    // the start, so "widening is exact" is what hashes: a lossy
    // coercion anywhere (the float→double upcast, the int→long read)
    // would flip values. At 100 TB this is the schema mistake every
    // long-lived table survives without a rewrite.
    Q("q162_type_widening",
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_widen", d)
      val orders = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      Lake.commitAppend(
        orders.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice").cast("float").as("price")),
        root, retain = 8)
      Lake.commitAppend(
        orders.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("price")),
        root, retain = 8)
      Lake.readCommitted(s, root).orderBy("o_orderkey")
    },

    // DELETION VECTORS (merge-on-read DELETE) under the oracle hash —
    // the at-scale write-amplification fix: a sparse SQL DELETE
    // (~1% of rows) commits `#dv_` position lines against the
    // UNCHANGED dir set instead of rewriting dir-sized parquet, so a
    // CDC-style delete on a 100 TB table is a manifest write, not a
    // data copy. The `dv_metadata_only` column carries the proof into
    // the hash (oracle expects TRUE on every row): it compares the
    // live dir PATHS before and after the delete — if the engine ever
    // regressed to copy-on-write here, the staged replacement dirs
    // would flip it FALSE and the hash would mismatch. The surviving
    // rows under the same hash prove the soft-deleted rows are
    // invisible to a plain catalog SELECT (the analyzer-rule read
    // path), and invisible EXACTLY — not one row over- or under-dead.
    Q("q163_dv_delete",
      """SELECT doc_id, source, lang, n_chars, TRUE AS dv_metadata_only
        |FROM documents
        |WHERE NOT doc_id % 97 = 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("dv_del", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 2, statsCols = Seq("doc_id"))
        ()
      }
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("DROP TABLE IF EXISTS dv_del_docs")
      s.sql(s"CREATE TABLE dv_del_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("DELETE FROM dv_del_docs WHERE doc_id % 97 = 5")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      s.sql("SELECT doc_id, source, lang, n_chars FROM dv_del_docs ORDER BY doc_id")
        .withColumn("dv_metadata_only", lit(metadataOnly))
    },

    // DV × CHANGE FEED in SQL: the `graft_changes` TVF over a
    // deletion-vector delete emits the exact row-level deletes — the
    // dirs did not change, so the feed derives them from the VECTOR
    // delta (old rows under the old vector minus new rows under the
    // new), reading only the touched dirs. The oracle recomputes the
    // deleted key set from scratch; an over- or under-reported delete
    // (a resurrection downstream consumers would fold wrong) breaks
    // the hash.
    Q("q164_dv_changefeed",
      """SELECT doc_id, 'delete' AS change_type
        |FROM documents WHERE doc_id % 97 = 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("dv_cdf", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      Lake.commitOverwrite(docs, root, retain = 2)
      val v1 = Lake.deleteWhere(s, root, pmod(col("doc_id"), lit(97)) === 5,
        retain = 2)
      require(v1 == 1L, s"DV delete must commit version 1, got $v1")
      s.sql(s"SELECT doc_id, change_type FROM graft_changes('$root', 0, 1, " +
        "'doc_id') ORDER BY doc_id")
    },

    // NOT NULL enforcement under the oracle hash (q161's write-side
    // gate, aimed at the evolution loophole): `CHECK (lang IS NOT
    // NULL)` must refuse BOTH a batch carrying NULL lang and a batch
    // OMITTING the column entirely — schema evolution would otherwise
    // NULL-backfill it and the constraint would silently claim to
    // hold over rows that read NULL. If either blocked batch ever
    // landed, its keys (shifted past the id range) would reach the
    // final table and break the hash; the committed half + clean half
    // equal the oracle exactly.
    Q("q165_notnull_constraint",
      """SELECT doc_id, source, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_notnull", d)
      val docs = Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val half = docs.where(col("doc_id") <= maxId / 2)
      val rest = docs.where(col("doc_id") > maxId / 2)
      Lake.commitOverwrite(half, root, retain = 8)
      Lake.addCheckConstraint(s, root, "lang_present", "lang IS NOT NULL")
      val nullBlocked = scala.util.Try(Lake.commitAppend(
        rest.withColumn("doc_id", col("doc_id") + maxId + 1)
          .withColumn("lang", lit(null).cast("string")),
        root, retain = 8)).isFailure
      require(nullBlocked, "the NULL-lang batch must refuse")
      val omitBlocked = scala.util.Try(Lake.commitAppend(
        rest.withColumn("doc_id", col("doc_id") + 2 * (maxId + 1)).drop("lang"),
        root, retain = 8)).isFailure
      require(omitBlocked, "the lang-omitting batch must refuse")
      Lake.commitAppend(rest, root, retain = 8)
      Lake.readCommitted(s, root).orderBy("doc_id")
    },

    // SQL maintenance end-to-end (q158's scenario, SQL-only): a
    // SQL-first user builds a partitioned lake table, runs `OPTIMIZE …
    // WHERE … ZORDER BY (…)` through the injected parser — no Scala —
    // and reads the hot partitions back through the catalog. The
    // clustered rewrite is per-partition and predicate-scoped (cold
    // partitions carry by reference with their #part_ lines), the
    // post-OPTIMIZE scan prunes on BOTH partition values and fresh
    // per-file ranges, and the oracle recomputes the answer from
    // scratch — a rewrite that lost or duplicated one row, or a scan
    // that pruned one dir too many, breaks the hash.
    Q("q166_sql_optimize",
      """SELECT o_orderkey, o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |FROM orders
        |WHERE year(o_orderdate) IN (1996, 1998)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_sqlopt", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders.where(col("o_orderkey") % 2 === 0), root,
        retain = 8, partitionBy = Seq("o_year"))
      Lake.commitAppend(orders.where(col("o_orderkey") % 2 === 1), root,
        retain = 8)
      s.sql("DROP TABLE IF EXISTS opt_sql_orders")
      s.sql(s"CREATE TABLE opt_sql_orders USING `graft-lake` OPTIONS (root '$root')")
      s.sql("OPTIMIZE opt_sql_orders WHERE o_year = 1996 " +
        "ZORDER BY (o_year, o_custkey)")
      s.sql("SELECT o_orderkey, o_custkey, o_year, o_totalprice " +
        "FROM opt_sql_orders WHERE o_year IN (1996, 1998) ORDER BY o_orderkey")
    },

    // COLUMN MAPPING under the oracle hash — Delta's rename-as-
    // metadata, end-to-end in SQL: half the docs commit under `lang`,
    // `ALTER TABLE … RENAME COLUMN lang TO language` re-points the
    // manifest map (the `rename_metadata_only` column proves the dir
    // set is byte-identical across the rename — a rewrite flips it
    // FALSE and breaks the hash), the second half INSERTs under the
    // NEW name (staged under the FROZEN physical name so both file
    // generations serve one logical column), and the final SELECT
    // filters and projects `language` across both. At 100 TB a rename
    // is one manifest write instead of a table rewrite.
    Q("q168_column_rename",
      """SELECT doc_id, source, lang AS language, n_chars,
        |  TRUE AS rename_metadata_only
        |FROM documents
        |WHERE lang IS NOT NULL
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("colmap_sql", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      Lake.commitOverwrite(docs.where(col("doc_id") <= maxId / 2), root,
        retain = 4, statsCols = Seq("doc_id"))
      s.sql("DROP TABLE IF EXISTS colmap_docs")
      s.sql(s"CREATE TABLE colmap_docs USING `graft-lake` OPTIONS (root '$root')")
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("ALTER TABLE colmap_docs RENAME COLUMN lang TO language")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      Lake.commitAppend(
        docs.where(col("doc_id") > maxId / 2)
          .withColumnRenamed("lang", "language"),
        root, retain = 4)
      s.sql("REFRESH TABLE colmap_docs")
      s.sql("""SELECT doc_id, source, language, n_chars FROM colmap_docs
              |WHERE language IS NOT NULL ORDER BY doc_id""".stripMargin)
        .withColumn("rename_metadata_only", lit(metadataOnly))
    },

    // NATIVE dynamic partition pruning, plain SQL, under the oracle
    // hash — q150's star shape with NO engine-specific API: the
    // year-partitioned lake fact exposes `o_year` as a TRUE Spark
    // partition column (LakeFileIndex partition-schema mode), so
    // Spark's own DPP rule plants a runtime subquery on the fact scan
    // and the `rk <= 2` dim filter prunes the fact to 2-of-7
    // partitions AT EXECUTION. The `dpp_pruned` column carries the
    // proof into the hash (oracle expects TRUE on every row): it reads
    // the executed scan's `numPartitions` metric — if partition-schema
    // mode ever regressed (flat listing: no metric) or DPP stopped
    // firing (7 partitions read), it flips FALSE and the hash breaks.
    // At 100 TB this is `fact ⋈ filtered-dim` as O(matching
    // partitions) I/O from a plain `spark.sql(...)` string.
    Q("q167_native_dpp",
      """WITH f AS MATERIALIZED (
        |  SELECT o_orderkey,
        |    CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |  FROM orders),
        |dim AS MATERIALIZED (
        |  SELECT o_year,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS year_total,
        |    row_number() OVER (
        |      ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) DESC, o_year)
        |      AS rk
        |  FROM f GROUP BY o_year)
        |SELECT f.o_orderkey, f.o_year AS o_year, f.o_totalprice,
        |  d.year_total, TRUE AS dpp_pruned
        |FROM f JOIN dim d ON f.o_year = d.o_year
        |WHERE d.rk <= 2
        |ORDER BY f.o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_dpp", d)
      val dimRoot = scratchRoot("lake_dpp_dim", d)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      Lake.commitOverwrite(orders, root, retain = 0,
        partitionBy = Seq("o_year"))
      val dim = Ranking.boundedRowNumber(
        orders.groupBy("o_year")
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("year_total")),
        "rk", desc("year_total"), asc("o_year"))
      Lake.commitOverwrite(dim, dimRoot, retain = 0)
      Lake.registerSql(s, "dpp_orders", root)
      Lake.registerSql(s, "dpp_years", dimRoot)
      val q =
        """SELECT f.o_orderkey, f.o_year, f.o_totalprice, d.year_total
          |FROM dpp_orders f JOIN dpp_years d ON f.o_year = d.o_year
          |WHERE d.rk <= 2
          |ORDER BY f.o_orderkey""".stripMargin
      val probe = s.sql(q)
      probe.collect() // execute: DPP re-filters, metrics materialize
      val partsRead = lakeScansOf(probe.queryExecution.executedPlan)
        .filter(_.relation.partitionSchema.nonEmpty)
        .map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum
      s.sql(q).withColumn("dpp_pruned", lit(partsRead == 2L))
    },

    // GENERATED partition columns under the oracle hash — Delta's
    // `GENERATED ALWAYS AS` with partition-filter derivation: orders
    // partition by a DERIVED `o_year = year(o_orderdate)` the batches
    // never carry (the writer materializes it), and the query filters
    // only the SOURCE date column — the engine derives the
    // `o_year ∈ [1996..1997]` conjunct and prunes the listing to
    // 2-of-7 partition dirs. The `derived_pruned` column carries the
    // runtime partitions-read metric into the hash: if materialization
    // or derivation regressed, it flips FALSE and the hash breaks. At
    // 100 TB this is every time-range query on a date-partitioned fact
    // paying O(matching partitions) without naming the partition key.
    Q("q169_generated_partition",
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  o_totalprice, TRUE AS derived_pruned
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_genpart", d)
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      Lake.commitOverwrite(orders, root, retain = 4,
        partitionBy = Seq("o_year"),
        generatedColumns = Map("o_year" -> "year(o_orderdate)"))
      Lake.registerSql(s, "genpart_orders", root)
      val q =
        """SELECT o_orderkey, CAST(o_year AS BIGINT) AS o_year, o_totalprice
          |FROM genpart_orders
          |WHERE o_orderdate >= DATE '1996-01-01'
          |  AND o_orderdate < DATE '1998-01-01'
          |ORDER BY o_orderkey""".stripMargin
      val probe = s.sql(q)
      probe.collect()
      val partsRead = lakeScansOf(probe.queryExecution.executedPlan)
        .filter(_.relation.partitionSchema.nonEmpty)
        .map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum
      s.sql(q).withColumn("derived_pruned", lit(partsRead == 2L))
    },

    // CDC MERGE SCHEMA EVOLUTION under the oracle hash — the
    // schema-drift ingestion story: a lake table commits WITHOUT a
    // `lang` column (two append dirs), then a CDC batch carrying the
    // NEW column merges with `allowSchemaEvolution = true`. The
    // committed schema evolves by the append rule (add-nullable),
    // upserted rows carry real values, every untouched row reads NULL
    // — and only the touched dirs rewrite (the untouched dir carries
    // by reference; at 100 TB a drifted CDC batch costs O(touched
    // dirs), never a table rewrite — `evolve_in_place` proves at
    // least one pre-merge dir survived verbatim, under the hash).
    Q("q170_merge_evolution",
      """SELECT doc_id, source, n_chars,
        |  CASE WHEN doc_id % 5 = 0
        |    AND doc_id <= (SELECT max(doc_id) // 2 FROM documents)
        |    THEN lang END AS lang,
        |  TRUE AS evolve_in_place
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("merge_evo", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
      val base = docs.select(col("doc_id"), col("source"), col("n_chars"),
        lit(0L).as("v"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      Lake.commitAppend(base.where(col("doc_id") <= maxId / 2), root,
        retain = 4, statsCols = Seq("doc_id"))
      Lake.commitAppend(base.where(col("doc_id") > maxId / 2), root,
        retain = 4)
      val preDirs = Lake.resolve(s, root).toSet
      // drift touches only first-half keys, so the second dir must
      // survive the merge verbatim (the in-place proof under the hash)
      val drifted = docs.where(pmod(col("doc_id"), lit(5)) === 0 &&
          col("doc_id") <= maxId / 2)
        .select(col("doc_id"), col("source"), col("n_chars"),
          lit(1L).as("v"), col("lang"), lit(false).as("del"))
      Lake.mergeCommitted(s, root, drifted, keyCols = Seq("doc_id"),
        versionCol = "v", deleteCol = "del", retain = 4,
        allowSchemaEvolution = true)
      val inPlace = Lake.resolve(s, root).toSet.intersect(preDirs).nonEmpty
      Lake.readCommitted(s, root)
        .select("doc_id", "source", "n_chars", "lang")
        .withColumn("evolve_in_place", lit(inPlace))
        .orderBy("doc_id")
    },

    // DV UPDATE (merge-on-read, Delta's DV update) under the oracle
    // hash — q163's write-amplification story for the OTHER row-level
    // op: a sparse SQL UPDATE soft-deletes the matched rows via `#dv_`
    // position lines and appends their updated copies as ONE
    // O(matched) dir; every pre-update dir survives BYTE-IDENTICAL.
    // The `dv_update_in_place` column proves it (pre-dirs ⊂ post-dirs
    // with exactly one addition — a COW regression flips it FALSE and
    // breaks the hash), and the surviving values under the same hash
    // prove the update is EXACT: each matched row updated once,
    // nothing duplicated, nothing resurrected.
    Q("q171_dv_update",
      """SELECT doc_id, source, lang,
        |  CASE WHEN doc_id % 97 = 5 THEN CAST(-1 AS BIGINT)
        |       ELSE n_chars END AS n_chars,
        |  TRUE AS dv_update_in_place
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("dv_upd", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 2, statsCols = Seq("doc_id"))
        ()
      }
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("DROP TABLE IF EXISTS dv_upd_docs")
      s.sql(s"CREATE TABLE dv_upd_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("UPDATE dv_upd_docs SET n_chars = -1 WHERE doc_id % 97 = 5")
      val postDirs = Lake.resolve(s, root).toSet
      val inPlace = preDirs.subsetOf(postDirs) &&
        (postDirs -- preDirs).size == 1
      s.sql("SELECT doc_id, source, lang, n_chars FROM dv_upd_docs " +
        "ORDER BY doc_id")
        .withColumn("dv_update_in_place", lit(inPlace))
    },

    // REORG … APPLY (PURGE) under the oracle hash — the explicit
    // payoff lever for deletion-vector debt: a sparse SQL DELETE
    // soft-deletes via `#dv_` position lines (dirs byte-identical),
    // then REORG rewrites EXACTLY the vector-carrying dirs —
    // regardless of size, which is the gap compaction's minBytes
    // selection can never close — and the post-purge table must hash
    // equal to its pre-purge reads (`dv_debt_paid` proves debt
    // existed AND the purged manifest carries zero `#dv_` lines). At
    // 100 TB this is how a table stops paying the per-read row-filter
    // tax and stops carrying position JSON in every manifest.
    Q("q173_reorg_purge",
      """SELECT doc_id, source, lang, n_chars, TRUE AS dv_debt_paid
        |FROM documents WHERE doc_id % 89 <> 3
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_reorg", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val step = maxId / 4 + 1
      (0L until 4L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          root, retain = 2, statsCols = Seq("doc_id"))
        ()
      }
      s.sql("DROP TABLE IF EXISTS reorg_docs")
      s.sql(s"CREATE TABLE reorg_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("DELETE FROM reorg_docs WHERE doc_id % 89 = 3") // DV path
      def latestDvDirs(): Int = Lake.describeHistory(s, root)
        .orderBy(desc("version")).select("dv_dirs").collect().head.getInt(0)
      val debtBefore = latestDvDirs() > 0
      s.sql("REORG TABLE reorg_docs APPLY (PURGE)")
      val paid = debtBefore && latestDvDirs() == 0
      s.sql("SELECT doc_id, source, lang, n_chars FROM reorg_docs " +
        "ORDER BY doc_id")
        .withColumn("dv_debt_paid", lit(paid))
    },

    // CONVERT TO GRAFT under the oracle hash — Delta's CONVERT TO
    // DELTA: a plain parquet dump becomes a committed lake table IN
    // PLACE (same-filesystem file moves + one manifest, zero data
    // rewrite — at 100 TB conversion cost is metadata, not a copy).
    // The `adopted_in_place` proof column compares the (name, bytes)
    // file signatures before and after: a conversion that rewrote or
    // dropped a file flips it FALSE and breaks the hash; the
    // post-convert SQL DELETE proves every lake capability applies
    // from version 0.
    Q("q177_convert_adopt",
      """SELECT doc_id, lang, n_chars, TRUE AS adopted_in_place
        |FROM documents WHERE doc_id % 101 <> 7
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_convert", d)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      docs.coalesce(2).write.mode("overwrite").parquet(root)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      def sigs(p: org.apache.hadoop.fs.Path): Set[(String, Long)] =
        fs.listStatus(p).filter(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getLen)).toSet
      val before = sigs(new org.apache.hadoop.fs.Path(root))
      s.sql(s"CONVERT TO GRAFT '$root' STATS BY (doc_id)")
      val after = sigs(new org.apache.hadoop.fs.Path(root, "v0"))
      val inPlace = before.nonEmpty && before == after
      s.sql("DROP TABLE IF EXISTS convert_docs")
      s.sql(s"CREATE TABLE convert_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("DELETE FROM convert_docs WHERE doc_id % 101 = 7")
      s.sql("SELECT doc_id, lang, n_chars FROM convert_docs ORDER BY doc_id")
        .withColumn("adopted_in_place", lit(inPlace))
    },

    // ALTER COLUMN TYPE under the oracle hash — explicit lossless
    // type-widening DDL (Delta/Spark 4's ALTER COLUMN TYPE): the
    // first generation commits n_chars as INT, one manifest write
    // widens it to BIGINT (`widen_metadata_only` proves the data dirs
    // are untouched), and a second generation appends values ONLY a
    // BIGINT can hold. The final read spans both file generations —
    // the hash breaks if the INT files' upcast is anything but exact,
    // if either generation is missed, or if the lossy long→double
    // spelling ever stops refusing (`lossy_refused`). At 100 TB the
    // point is the cost model: an admin widens a column with one
    // KB-sized manifest commit instead of a full-table rewrite.
    Q("q178_widen_column",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars
        |            ELSE n_chars + 3000000000 END AS BIGINT) AS n_big,
        |  TRUE AS widen_metadata_only, TRUE AS lossy_refused
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_widen", d)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("n_chars").cast("int").as("n_big"))
      // generation 1: INT column (even ids)
      Lake.commitOverwrite(docs.where(col("doc_id") % 2 === 0), root,
        retain = 8, statsCols = Seq("doc_id"))
      s.sql("DROP TABLE IF EXISTS widen_docs")
      s.sql(s"CREATE TABLE widen_docs USING `graft-lake` OPTIONS (root '$root')")
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("ALTER TABLE widen_docs ALTER COLUMN n_big TYPE BIGINT")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs &&
        Lake.readCommitted(s, root).schema("n_big").dataType ==
          org.apache.spark.sql.types.LongType
      // generation 2: BIGINT values beyond the int range (odd ids)
      Lake.commitAppend(
        docs.where(col("doc_id") % 2 =!= 0)
          .withColumn("n_big", col("n_big").cast("long") + 3000000000L),
        root, retain = 8)
      val lossyRefused = scala.util.Try(
        s.sql("ALTER TABLE widen_docs ALTER COLUMN n_big TYPE DOUBLE")
      ).isFailure
      s.sql("SELECT doc_id, n_big FROM widen_docs ORDER BY doc_id")
        .withColumn("widen_metadata_only", lit(metadataOnly))
        .withColumn("lossy_refused", lit(lossyRefused))
    },

    // NESTED DDL + NESTED DML under the oracle hash — the struct-heavy
    // user's weekly pair: `ALTER TABLE … ADD COLUMN meta.tag STRING`
    // evolves the schema with ONE manifest write (`nested_add_metadata
    // _only` proves the data dirs are byte-identical; old files read
    // the new field NULL via parquet schema clipping), and `UPDATE …
    // SET meta.v = …, meta.tag = … WHERE meta.etype = …` rewrites the
    // struct through the COW/DV update engine with `withField` —
    // matched rows keep every unassigned sibling field, unmatched rows
    // are untouched. The hash breaks on a dropped sibling, a missed or
    // extra match, or a NULL-backfill error in either file generation.
    Q("q179_nested_update",
      """SELECT event_id, event_type AS etype,
        |  CAST(CASE WHEN event_type = 'click' THEN value * 2
        |            ELSE value END AS DOUBLE) AS v,
        |  CAST(CASE WHEN event_type = 'click' THEN 'boosted'
        |            ELSE NULL END AS VARCHAR) AS tag,
        |  TRUE AS nested_add_metadata_only
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_nestedupd", d)
      val ev = Tables.events(s, d).select(col("event_id"),
        struct(col("event_type").as("etype"),
          col("value").cast("double").as("v")).as("meta"))
      val maxId = ev.agg(max(col("event_id"))).collect().head.getLong(0)
      // two file generations: the second appends AFTER the nested add
      Lake.commitOverwrite(ev.where(col("event_id") <= maxId / 2), root,
        retain = 8, statsCols = Seq("event_id"))
      s.sql("DROP TABLE IF EXISTS nested_upd")
      s.sql(s"CREATE TABLE nested_upd USING `graft-lake` OPTIONS (root '$root')")
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("ALTER TABLE nested_upd ADD COLUMN meta.tag STRING")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      Lake.commitAppend(
        ev.where(col("event_id") > maxId / 2)
          .withColumn("meta", col("meta").withField("tag",
            lit(null).cast("string"))),
        root, retain = 8)
      s.sql("UPDATE nested_upd SET meta.v = meta.v * 2, " +
        "meta.tag = 'boosted' WHERE meta.etype = 'click'")
      s.sql("SELECT event_id, meta.etype AS etype, meta.v AS v, " +
        "meta.tag AS tag FROM nested_upd ORDER BY event_id")
        .withColumn("nested_add_metadata_only", lit(metadataOnly))
    },

    // COPY INTO under the oracle hash — idempotent landing-zone
    // ingestion (Delta's COPY INTO): half the corpus establishes the
    // table, the other half lands as loose parquet files, one COPY
    // loads exactly the unrecorded files, and a RE-RUN of the same
    // statement provably loads NOTHING (`rerun_noop` — files_loaded
    // 0 AND the version unchanged; a double-load would also double
    // rows and break the hash). At 100 TB this is the crash-retried
    // hourly cron that must never double-ingest: the file ledger
    // commits atomically with the data, and each run costs O(new
    // files) + one directory listing.
    Q("q180_copy_into",
      """SELECT doc_id, lang, n_chars, TRUE AS rerun_noop
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_copyinto", d)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      Lake.commitOverwrite(docs.where(col("doc_id") <= maxId / 2), root,
        retain = 8, statsCols = Seq("doc_id"))
      val land = scratchRoot("lake_copyinto_land", d)
      docs.where(col("doc_id") > maxId / 2).coalesce(2)
        .write.mode("overwrite").parquet(land)
      s.sql("DROP TABLE IF EXISTS copy_docs")
      s.sql(s"CREATE TABLE copy_docs USING `graft-lake` OPTIONS (root '$root')")
      val first = s.sql(s"COPY INTO copy_docs FROM '$land'").collect().head
      val vAfter = Lake.currentVersion(s, root).get
      val rerun = s.sql(s"COPY INTO copy_docs FROM '$land'").collect().head
      val noop = first.getLong(1) > 0L && rerun.getLong(1) == 0L &&
        Lake.currentVersion(s, root).get == vAfter
      s.sql("SELECT doc_id, lang, n_chars FROM copy_docs ORDER BY doc_id")
        .withColumn("rerun_noop", lit(noop))
    },

    // PARTITION EVOLUTION under the oracle hash — Iceberg's
    // forward-only spec evolution without a table rewrite: generation
    // 1 commits day-partitioned, a re-declaration makes generation 2
    // stage hour-partitioned, and pruning consults EACH DIR'S OWN
    // tuple — a day predicate drops old-generation dirs exactly while
    // honestly scanning the new ones (no tuple for day ⇒ keep), and
    // vice versa. `mixed_prune_exact` gates both directions' prune
    // counts; the result hash breaks if either generation's rows are
    // missed or double-read. At 100 TB this is how a table migrates
    // day→hour granularity with a KB manifest write, old data pruning
    // as before, and OPTIMIZE migrating dirs lazily.
    Q("q181_partition_evolution",
      """SELECT doc_id, n_chars, TRUE AS mixed_prune_exact
        |FROM documents WHERE doc_id % 5 = 3
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_partevo", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      // generation 1: day-partitioned (5 tuple dirs)
      Lake.commitOverwrite(
        docs.where(col("doc_id") <= maxId / 2)
          .withColumn("day", col("doc_id") % 5),
        root, retain = 8, partitionBy = Seq("day"))
      val g1Dirs = Lake.resolve(s, root).size
      // generation 2: re-declared HOUR-partitioned (forward-only;
      // 8 tuple dirs — granularity kept small so the bench measures
      // the evolution contract, not 31 tiny staging jobs)
      Lake.commitAppend(
        docs.where(col("doc_id") > maxId / 2)
          .withColumn("day", col("doc_id") % 5)
          .withColumn("hour", col("doc_id") % 8),
        root, retain = 8, partitionBy = Seq("hour"))
      val g2Dirs = Lake.resolve(s, root).size - g1Dirs
      // day predicate: old generation prunes exactly (4 of 5 day dirs
      // drop), new generation scans honestly (no day tuples)
      val (_, skipDay, _) = Lake.resolveWhere(s, root, col("day") === 3L)
      // hour predicate: new generation prunes exactly, old kept
      val (_, skipHour, _) = Lake.resolveWhere(s, root, col("hour") === 5L)
      val pruneExact = g1Dirs == 5 && g2Dirs == 8 &&
        skipDay.size == 4 && skipHour.size == 7
      Lake.readCommittedWhere(s, root, col("day") === 3L)
        .select("doc_id", "n_chars").orderBy("doc_id")
        .withColumn("mixed_prune_exact", lit(pruneExact))
    },

    // SHOW PARTITIONS under the oracle hash — the manifest-layout
    // report as SQL: two appends stage the day-partitioned corpus, so
    // each day value present in both halves owns TWO dirs; the oracle
    // recomputes every `day=<v>` spec and its dir count from the raw
    // rows (dirs per tuple = distinct halves carrying that value).
    // The hash breaks if a tuple is missed, a dir miscounted, or the
    // spec string drifts from Spark's `c=v` spelling. Pure manifest
    // metadata — at 100 TB the statement answers from KB-sized reads.
    Q("q182_show_partitions",
      """WITH p AS (
        |  SELECT CAST(doc_id % 5 AS BIGINT) AS day,
        |    CASE WHEN doc_id <= (SELECT max(doc_id) // 2 FROM documents)
        |         THEN 0 ELSE 1 END AS half
        |  FROM documents)
        |SELECT 'day=' || CAST(day AS VARCHAR) AS partition,
        |  CAST(count(DISTINCT half) AS BIGINT) AS n_dirs
        |FROM p GROUP BY day ORDER BY partition""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_showparts", d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 5).as("day"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      Lake.commitOverwrite(docs.where(col("doc_id") <= maxId / 2), root,
        retain = 8, partitionBy = Seq("day"))
      Lake.commitAppend(docs.where(col("doc_id") > maxId / 2), root,
        retain = 8)
      s.sql(s"SHOW PARTITIONS '$root'").orderBy("partition")
    },

    // AUTO-COMPACTION under the oracle hash — Delta's
    // autoOptimize.autoCompact as the `graft.autoCompact` table
    // property: five O(batch) appends land as five small dirs; the
    // append that raises the small-dir count to the declared threshold
    // bin-packs BEFORE returning, so the table never accumulates the
    // small-files pathology without an external OPTIMIZE cadence.
    // `auto_compacted` gates the physical outcome (dir count collapsed
    // mid-stream + exactly one compact op in history); the row hash
    // breaks if the trigger loses or duplicates a single row. At
    // 100 TB: a hot hourly appender stays scan-efficient with zero
    // operator intervention, and the trigger cost is one property
    // lookup per append until debt actually builds.
    Q("q183_auto_compact",
      """SELECT doc_id, n_chars, TRUE AS auto_compacted
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_autocompact", d)
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      Lake.commitOverwrite(docs.where(col("doc_id") % 5 === 0), root,
        retain = 8)
      s.sql(s"ALTER TABLE '$root' SET TBLPROPERTIES " +
        "('graft.autoCompact' = '4', 'graft.retain' = '8')")
      (1L to 4L).foreach(i =>
        Lake.commitAppend(docs.where(col("doc_id") % 5 === i), root))
      val compacts = Lake.describeHistory(s, root)
        .where(col("op") === "compact").count()
      val compacted = Lake.resolve(s, root).size == 2 && compacts == 1L
      Lake.readCommitted(s, root).orderBy("doc_id")
        .withColumn("auto_compacted", lit(compacted))
    },

    // OR/NOT-DISJUNCT DATA SKIPPING under the oracle hash — the everyday
    // dashboard predicate `lang = 'en' OR lang = 'fr'` (Delta prunes
    // OR by evaluating both sides and unioning the kept sets; a
    // conjunct-only pruner scans every dir). The corpus commits
    // lang-partitioned (one dir per lang); the OR read must keep
    // EXACTLY the en/fr dirs
    // (`or_prune_exact` recomputes the expected kept/skipped counts
    // from the raw rows — a dir kept too many or too few breaks the
    // hash). A second proof bit runs the RANGE shape `doc_id < lo OR
    // doc_id >= hi` against a key-ordered stats table: only the two
    // edge dirs survive, and an OR with an unprunable side keeps
    // everything (never a wrong prune), and NOT prunes through
    // De Morgan against the exact partition tuples. At 100 TB every
    // shape answers from the KB-sized manifest before any scan plans.
    Q("q184_or_skipping",
      """SELECT doc_id, lang, n_chars, TRUE AS or_prune_exact
        |FROM documents WHERE lang = 'en' OR lang = 'fr'
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_orskip", d)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      // one generation, one dir per lang tuple (the bench ledger
      // showed the two-generation variant spent its time STAGING
      // scenario dirs, not exercising the pruner — one generation
      // proves the same union-of-kept-sets rule at half the commits)
      Lake.commitOverwrite(docs, root,
        retain = 8, partitionBy = Seq("lang"), statsCols = Seq("doc_id"))
      // expected layout, derived from the DATA (not the pruner)
      val totalDirs = docs.select("lang").distinct().count()
      val expKept = docs.where(col("lang").isin("en", "fr"))
        .select("lang").distinct().count()
      val pred = col("lang") === "en" || col("lang") === "fr"
      val (kept, skipped, _) = Lake.resolveWhere(s, root, pred)
      val partExact = kept.size.toLong == expKept &&
        skipped.size.toLong == totalDirs - expKept && expKept < totalDirs
      // NOT prunes through De Morgan against the exact tuples:
      // NOT(lang = 'en') drops the en dir; NOT(en OR fr) drops both
      val notExact =
        Lake.resolveWhere(s, root, !(col("lang") === "en"))._2.size == 1 &&
        Lake.resolveWhere(s, root,
          !(col("lang") === "en" || col("lang") === "fr"))._2.size == 2
      // range shape on a second, key-ordered table: edge dirs only
      val rroot = scratchRoot("lake_orskip_rng", d)
      val step = maxId / 6 + 1
      (0L until 6L).foreach { b =>
        Lake.commitAppend(
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step),
          rroot, retain = 0, statsCols = Seq("doc_id"))
        ()
      }
      val rPred = col("doc_id") < step || col("doc_id") >= 5L * step
      val (rKept, rSkipped, _) = Lake.resolveWhere(s, rroot, rPred)
      // an OR with an unprunable side must keep every dir
      val weak = Lake.resolveWhere(s, rroot,
        col("doc_id") < step || col("lang") === "xx")
      val rangeExact = rKept.size == 2 && rSkipped.size == 4 &&
        weak._2.isEmpty
      Lake.readCommittedWhere(s, root, pred).orderBy("doc_id")
        .withColumn("or_prune_exact",
          lit(partExact && rangeExact && notExact))
    },

    // COLUMN DEFAULT VALUES under the oracle hash — Delta's
    // allowColumnDefaults with Iceberg's initial-default read
    // semantics: generation 1 commits WITHOUT the column; `ADD COLUMN
    // score DOUBLE DEFAULT 0.5` is one metadata commit (dirs
    // untouched — proof bit); generation 2a OMITS the column (the
    // writer materializes 0.5 physically); generation 2b SUPPLIES it,
    // explicit NULLs included. The final read must serve: backfilled
    // 0.5 for gen-1 rows (per-file EXISTS_DEFAULT — files predating
    // the column), materialized 0.5 for gen-2a, stored values and
    // real NULLs for gen-2b — all hashed. `default_backfill_exact`
    // additionally pins the PHYSICAL split: gen-1 files lack the
    // column on disk, gen-2a files carry it. At 100 TB the add is one
    // KB-sized manifest write instead of a full-table UPDATE pass.
    Q("q185_column_default",
      """WITH m AS (SELECT max(doc_id) // 2 AS half FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN doc_id <= (SELECT half FROM m) THEN 0.5
        |       WHEN doc_id % 3 = 0 THEN 0.5
        |       WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE n_chars / 10.0 END AS score,
        |  TRUE AS default_backfill_exact
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val root = scratchRoot("lake_default", d)
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val half = maxId / 2
      Lake.commitOverwrite(docs.where(col("doc_id") <= half), root,
        retain = 8)
      val preDirs = Lake.resolve(s, root).toSet
      Lake.addColumnWithDefault(s, root, "score", DoubleType, "0.5")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      // 2a: omitting batch — the default materializes physically
      Lake.commitAppend(
        docs.where(col("doc_id") > half && col("doc_id") % 3 === 0),
        root, retain = 8)
      val dir2a = (Lake.resolve(s, root).toSet -- preDirs).toSeq
      // 2b: supplying batch — stored values win, explicit NULL stays
      Lake.commitAppend(
        docs.where(col("doc_id") > half && col("doc_id") % 3 =!= 0)
          .withColumn("score", when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(col("n_chars") / lit(10.0))),
        root, retain = 8)
      // physical proof: gen-1 files LACK the column, gen-2a files
      // CARRY it (materialized, not reader-backfilled)
      val gen1HasNot = !s.read
        .parquet(preDirs.toSeq: _*).columns.contains("score")
      val gen2aHas = s.read
        .parquet(dir2a: _*).columns.contains("score")
      Lake.readCommitted(s, root).orderBy("doc_id")
        .withColumn("default_backfill_exact",
          lit(metadataOnly && gen1HasNot && gen2aHas))
    },

    // ROW TRACKING / KEYLESS CHANGE FEED under the oracle hash —
    // Delta's stable row ids: the corpus commits with rowTracking on
    // (hidden `_row_id` stamped per row under the identity-block
    // protocol), takes an UPDATE, a DELETE and an APPEND, and the
    // change feed is read with NO key columns — update pre/postimages
    // pair on the stable id alone. The oracle recomputes every change
    // class from the raw rows; `keyless_pairing` additionally gates
    // that the keyless feed EQUALS the keyed feed (doc_id is a
    // natural key here, so the two must agree row-for-row) and that
    // the hidden column never leaks into either. At 100 TB this is
    // the CDC primitive for tables with no natural key — event logs,
    // scraped corpora — where today's fallback degrades every update
    // into delete+insert.
    Q("q186_row_tracking",
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |             lang FROM documents)
        |SELECT doc_id, n_chars, lang, 'update_preimage' AS change_type,
        |  TRUE AS keyless_pairing
        |FROM d WHERE doc_id % 10 = 1
        |UNION ALL
        |SELECT doc_id, n_chars + 1000, lang, 'update_postimage', TRUE
        |FROM d WHERE doc_id % 10 = 1
        |UNION ALL
        |SELECT doc_id, n_chars, lang, 'delete', TRUE
        |FROM d WHERE doc_id % 17 = 0 AND doc_id % 10 <> 1
        |UNION ALL
        |SELECT doc_id + 100000, n_chars, lang, 'insert', TRUE
        |FROM d WHERE doc_id % 23 = 0
        |ORDER BY doc_id, change_type""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_rowtrack", d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("lang"))
      Lake.commitOverwrite(docs, root, retain = 8, rowTracking = true)
      val v0 = Lake.currentVersion(s, root).get
      Lake.updateWhere(s, root, col("doc_id") % 10 === 1,
        Map("n_chars" -> (col("n_chars") + 1000L)), retain = 8)
      Lake.deleteWhere(s, root,
        col("doc_id") % 17 === 0 && col("doc_id") % 10 =!= 1, retain = 8)
      Lake.commitAppend(
        docs.where(col("doc_id") % 23 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L),
        root, retain = 8)
      val v1 = Lake.currentVersion(s, root).get
      val keyless = Lake.changesBetween(s, root, v0, v1, Nil)
      val keyed = Lake.changesBetween(s, root, v0, v1, Seq("doc_id"))
      val cols = Seq("doc_id", "n_chars", "lang", "change_type")
      val agrees =
        keyless.select(cols.map(col): _*)
          .exceptAll(keyed.select(cols.map(col): _*)).isEmpty &&
        keyed.select(cols.map(col): _*)
          .exceptAll(keyless.select(cols.map(col): _*)).isEmpty &&
        !keyless.columns.contains("_row_id") &&
        !Lake.readCommitted(s, root).columns.contains("_row_id")
      keyless.orderBy("doc_id", "change_type")
        .withColumn("keyless_pairing", lit(agrees))
    },

    // GENERAL GENERATED COLUMNS under the oracle hash — GENERATED
    // ALWAYS AS for columns that do NOT participate in the partition
    // layout (`#gencol=`, Delta's generated columns beyond partition
    // derivation): generation 1 OMITS the column (the writer
    // materializes `n_chars * 2 + length(lang)`), generation 2
    // SUPPLIES a correct copy (validated row-for-row at commit), and
    // a generation supplying a STALE copy refuses loudly
    // (`gencol_guards` carries that refusal plus the derived
    // data-skipping proof: a predicate on the SOURCE column prunes
    // through the stored generation expression when stats exist on
    // the generated column). The oracle recomputes the expression
    // from raw rows — a materialization or validation drift anywhere
    // breaks the hash. At 100 TB: derived features stay consistent
    // by construction, not by pipeline discipline.
    Q("q187_generated_column",
      """SELECT doc_id, n_chars,
        |  CAST(n_chars * 2 + length(lang) AS BIGINT) AS feat,
        |  TRUE AS gencol_guards
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_gencol", d)
      val docs = Tables.documents(s, d).select("doc_id", "n_chars", "lang")
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val half = maxId / 2
      // generation 1 omits feat — materialized at write
      Lake.commitOverwrite(docs.where(col("doc_id") <= half), root,
        retain = 8, statsCols = Seq("feat"),
        generatedColumns = Map("feat" ->
          "CAST(n_chars * 2 + length(lang) AS BIGINT)"))
      // generation 2 supplies a CORRECT copy — validates and commits
      Lake.commitAppend(
        docs.where(col("doc_id") > half).withColumn("feat",
          (col("n_chars") * 2 + length(col("lang"))).cast("long")),
        root, retain = 8)
      // a STALE copy refuses (write-time row-for-row validation) and
      // the refusal leaves the table untouched
      val preV = Lake.currentVersion(s, root).get
      val refused = scala.util.Try(
        Lake.commitAppend(
          docs.where(col("doc_id") > half).withColumn("feat", lit(0L)),
          root, retain = 8)).isFailure
      val untouched = Lake.currentVersion(s, root).get == preV
      Lake.readCommitted(s, root).select("doc_id", "n_chars", "feat")
        .orderBy("doc_id")
        .withColumn("gencol_guards", lit(refused && untouched))
    },

    // ID-MODE COLUMN MAPPING (#colmap2) under the oracle hash — the
    // round-17 lift of the nested-DROP refusal. Per-field immutable
    // ids assign to EXISTING names at upgrade (zero file rewrites);
    // `DROP COLUMN meta.lang` tombstones the field's (container,
    // physical-name) so the immediate RE-ADD of the same name mints a
    // FRESH physical name — the oracle's CASE encodes the resurrection
    // proof: every pre-drop row reads NULL for the re-added field,
    // never the dropped generation's bytes. `RENAME COLUMN meta.sz TO
    // size` then moves only the logical name (the physical stats key
    // is frozen), and generation 2 appends under the post-DDL shape so
    // the final read crosses TWO mapping generations. Proof columns:
    // the dir set is byte-identical across all three DDLs
    // (mapping_metadata_only) and a range predicate on the RENAMED
    // nested field still prunes on the frozen physical stats key
    // (skipping_survives). At 100 TB all three DDLs are one manifest
    // write each.
    Q("q188_nested_colmap_v2",
      """SELECT doc_id, source,
        |  CASE WHEN doc_id <= (SELECT max(doc_id) // 2 FROM documents)
        |       THEN NULL ELSE lang END AS lang2,
        |  doc_id AS size,
        |  TRUE AS mapping_metadata_only, TRUE AS skipping_survives
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_cmv2", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        struct(col("lang"), col("doc_id").as("sz")).as("meta"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val half = maxId / 2
      Lake.commitOverwrite(docs.where(col("doc_id") <= half), root,
        retain = 8, statsCols = Seq("meta.sz"))
      s.sql("DROP TABLE IF EXISTS cmv2_docs")
      s.sql(s"CREATE TABLE cmv2_docs USING `graft-lake` OPTIONS (root '$root')")
      val preDirs = Lake.resolve(s, root).toSet
      s.sql("ALTER TABLE cmv2_docs DROP COLUMN meta.lang")
      s.sql("ALTER TABLE cmv2_docs ADD COLUMN meta.lang STRING")
      s.sql("ALTER TABLE cmv2_docs RENAME COLUMN meta.sz TO size")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      Lake.commitAppend(
        Tables.documents(s, d).where(col("doc_id") > half)
          .select(col("doc_id"), col("source"),
            struct(col("doc_id").as("size"), col("lang")).as("meta")),
        root, retain = 8)
      s.sql("REFRESH TABLE cmv2_docs")
      val (_, skipped) = Lake.pruneDirs(s, root, col("meta.size") > half)
      s.sql(
        """SELECT doc_id, source, meta.lang AS lang2, meta.size AS size
          |FROM cmv2_docs ORDER BY doc_id""".stripMargin)
        .withColumn("mapping_metadata_only", lit(metadataOnly))
        .withColumn("skipping_survives", lit(skipped.nonEmpty))
    },

    // SQL `MERGE WITH SCHEMA EVOLUTION` under the oracle hash — the
    // drifted-upsert-feed spelling Delta ships. The v1 analyzer
    // expands star actions against the TARGET schema, so the engine
    // intercepts the statement BEFORE resolution, evolves the
    // committed schema toward the source (one metadata commit,
    // add-nullable + lossless widening), and re-analyzes: the drifted
    // `lang` column lands through `UPDATE SET *` while every
    // untouched dir carries BY REFERENCE (proof column) and reads
    // NULL-backfilled. At 100 TB a drifted CDC feed costs O(touched
    // dirs) + one manifest write, never a table rewrite.
    Q("q189_sql_merge_evolution",
      """SELECT doc_id, source,
        |  CAST(CASE WHEN doc_id > 3 * (SELECT max(doc_id) FROM documents) // 4
        |       THEN n_chars * 2 ELSE n_chars END AS BIGINT) AS n_chars2,
        |  CASE WHEN doc_id > 3 * (SELECT max(doc_id) FROM documents) // 4
        |       THEN lang ELSE NULL END AS lang2,
        |  CAST(CASE WHEN doc_id = (SELECT max(doc_id) FROM documents)
        |       THEN 777 ELSE NULL END AS BIGINT) AS extra2,
        |  TRUE AS untouched_carried
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_mrgevo", d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val q3 = maxId * 3 / 4
      Lake.commitOverwrite(docs.where(col("doc_id") <= maxId / 2), root,
        retain = 8, statsCols = Seq("doc_id"))
      val lowDirs = Lake.resolve(s, root).toSet
      Lake.commitAppend(docs.where(col("doc_id") > maxId / 2), root,
        retain = 8)
      s.sql("DROP TABLE IF EXISTS mrgevo_docs")
      s.sql(s"CREATE TABLE mrgevo_docs USING `graft-lake` OPTIONS (root '$root')")
      Tables.documents(s, d).where(col("doc_id") > q3)
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 2).cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("mrgevo_feed")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO mrgevo_docs t
          |USING mrgevo_feed s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // the low-half dir holds no doc_id > 3q: carried by reference
      val carried = lowDirs.subsetOf(Lake.resolve(s, root).toSet)
      // second drifted merge through the TEMP-VIEW (path) spelling —
      // the round-18 lift: the pre-resolution rule recovers the root
      // from the view's snapshot-pinned plan and re-registers it over
      // the evolved schema before re-analysis
      Lake.registerSql(s, "mrgevo_docs_view", root)
      Tables.documents(s, d).where(col("doc_id") === maxId)
        .select(col("doc_id"), lit(777L).as("extra"))
        .createOrReplaceTempView("mrgevo_feed2")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO mrgevo_docs_view t
          |USING mrgevo_feed2 f ON t.doc_id = f.doc_id
          |WHEN MATCHED THEN UPDATE SET extra = f.extra""".stripMargin)
      // read the final state through the view (the command re-registers
      // it over the evolved schema); the CATALOG table's stored schema
      // is stale after a view-route evolution until any catalog write
      // syncs it — the same seam as programmatic Lake.evolveSchema
      s.sql(
        """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars2,
          |  lang AS lang2, CAST(extra AS BIGINT) AS extra2
          |  FROM mrgevo_docs_view ORDER BY doc_id""".stripMargin)
        .withColumn("untouched_carried", lit(carried))
    },

    // MONOTONE-EXPRESSION DATA SKIPPING under the oracle hash — the
    // everyday dashboard predicate `WHERE year(o_orderdate) = 1996`
    // prunes on o_orderdate's OWN min/max stats, no generated
    // partition column required: the whitelist map (year / to_date /
    // date_trunc / trunc / cast-date) rides the predicate leaf and
    // each dir's stored range maps through it before the comparison
    // fires (monotone ⇒ every row's f(x) ∈ [f(lo), f(hi)] — exclusion
    // against the mapped range is exact). The prune count is gated
    // into the hash: a date-sliced history must skip exactly the
    // out-of-year dirs, or expr_skip_pruned flips FALSE. At 100 TB
    // this is the time-ordered append table answering a year filter
    // with O(matching dirs) I/O from the plain function-wrapped
    // predicate every BI tool emits.
    Q("q190_expr_skipping",
      """SELECT o_orderkey, o_orderdate,
        |  CAST(o_totalprice AS DOUBLE) AS price, TRUE AS expr_skip_pruned
        |FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_exprskip", d)
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("double").as("price"))
      def slice(lo: String, hi: String) = orders.where(
        col("o_orderdate") >= java.sql.Date.valueOf(lo) &&
          col("o_orderdate") < java.sql.Date.valueOf(hi))
      Lake.commitOverwrite(slice("1990-01-01", "1996-01-01"), root,
        retain = 8, statsCols = Seq("o_orderdate"))
      Lake.commitAppend(slice("1996-01-01", "1997-01-01"), root, retain = 8)
      Lake.commitAppend(slice("1997-01-01", "2002-01-01"), root, retain = 8)
      val (_, skipped) = Lake.pruneDirs(s, root,
        year(col("o_orderdate")) === 1996)
      // the pruned read must also be the CORRECT read
      Lake.readCommittedWhere(s, root, year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), col("o_orderdate"), col("price"))
        .orderBy("o_orderkey")
        .withColumn("expr_skip_pruned", lit(skipped.size == 2))
    },

    // GOVERNED CREATE TABLE under the oracle hash — the one-statement
    // column-list DDL (`id BIGINT GENERATED ALWAYS AS IDENTITY, score
    // DOUBLE DEFAULT 0.5, feat BIGINT GENERATED ALWAYS AS (n * 2)`)
    // births the table with its governance as ONE establishing commit:
    // the first data batch omits all three columns and the manifest
    // declarations allocate the keys, write the default physically and
    // materialize the generation — no post-hoc ALTERs, no writer-side
    // arguments. The batch is committed in doc_id order, so the
    // allocator's row_number arithmetic is the oracle.
    Q("q191_create_table_governed",
      """SELECT row_number() OVER (ORDER BY doc_id) AS id, doc_id,
        |  source, 0.5 AS score, CAST(n_chars * 2 AS BIGINT) AS feat
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_create_gov", d)
      s.sql("DROP TABLE IF EXISTS gov_docs")
      s.sql(
        s"""CREATE TABLE gov_docs (
           |  id BIGINT GENERATED ALWAYS AS IDENTITY,
           |  doc_id BIGINT,
           |  source STRING,
           |  score DOUBLE DEFAULT 0.5,
           |  n_chars BIGINT,
           |  feat BIGINT GENERATED ALWAYS AS (n_chars * 2)
           |) USING `graft-lake` OPTIONS (root '$root')""".stripMargin)
      Lake.commitAppend(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
          .orderBy("doc_id"),
        root, retain = 8)
      s.sql("REFRESH TABLE gov_docs")
      s.sql("""SELECT id, doc_id, source, score, feat FROM gov_docs
              |ORDER BY doc_id""".stripMargin)
    },

    // IDENTITY GENERATED BY DEFAULT under the oracle hash — Delta's
    // migration-friendly mode (the reference's `id SERIAL` seeded from
    // an existing system, dags/sql/news.sql:2): explicit keys pass
    // through VERBATIM, NULL keys take the allocator's next contiguous
    // block, and the high-water mark advances past BOTH — so the
    // allocator can never reuse an explicitly written key, while
    // uniqueness against explicit values is (documentedly) the
    // writer's responsibility. The whole allocation arithmetic —
    // seeded lower half, one explicit outlier, the middle block filled
    // in batch order from the advanced mark — is under the hash.
    Q("q192_identity_by_default",
      """SELECT doc_id, source,
        |  CAST(CASE
        |    WHEN doc_id <= (SELECT max(doc_id) // 2 FROM documents)
        |      THEN doc_id + 1000
        |    WHEN doc_id = (SELECT max(doc_id) FROM documents) THEN 99999
        |    ELSE 1000 + (SELECT max(doc_id) // 2 FROM documents)
        |      + row_number() OVER (
        |          PARTITION BY (doc_id <= (SELECT max(doc_id) // 2 FROM documents))
        |            OR (doc_id = (SELECT max(doc_id) FROM documents))
        |          ORDER BY doc_id)
        |    END AS BIGINT) AS id,
        |  TRUE AS mark_advanced
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_idbd", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val half = maxId / 2
      Lake.commitOverwrite(
        s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType)))),
        root, retain = 8, identity = Some("id"), identityByDefault = true)
      // migration batch: every key explicit (seeded SERIAL values)
      Lake.commitAppend(docs.where(col("doc_id") <= half)
        .select((col("doc_id") + 1000L).as("id"), col("doc_id"),
          col("source")),
        root, retain = 8)
      // mixed batch: one explicit outlier, the rest NULL → filled in
      // batch order from the mark the migration batch advanced
      Lake.commitAppend(docs.where(col("doc_id") > half)
        .select(when(col("doc_id") === maxId, lit(99999L))
          .otherwise(lit(null)).cast("long").as("id"),
          col("doc_id"), col("source"))
        .orderBy("doc_id"),
        root, retain = 8)
      // the mark is past BOTH the filled block and the explicit keys
      val nMiddle = Lake.readCommitted(s, root)
        .where(col("doc_id") > half && col("doc_id") =!= maxId).count()
      val expectedMark = math.max(1001L + half + nMiddle, 100000L)
      val markOk = Lake.identityColumn(s, root) == Some(("id", expectedMark))
      Lake.readCommitted(s, root).select("doc_id", "source", "id")
        .orderBy("doc_id")
        .withColumn("mark_advanced", lit(markOk))
    },

    // TIERED MANIFESTS under the oracle hash — the round-18 whole-
    // round project: past `graft.seg.threshold` per-dir lines, the
    // manifest segments its stats/part/DV metadata into immutable
    // `_seg_` side files and every later commit writes O(batch) bytes
    // at ANY table size (ManifestGrowthProbe: 441-474 bytes/commit at
    // 10^5 and 10^6 dirs vs 548 KB untiered at 10^4). The scenario
    // forces tiering (threshold 4), lands 8 ranged appends, a DV
    // delete (inline per-dir OVERRIDE line, segments carried by
    // reference) and a COW update (`#segdrop` tombstone), then reads
    // the final snapshot — byte-identical to the oracle's
    // recomputation from the base parquet, so the expansion layer
    // (segments + tombstones + overrides) sits under the hash, not
    // just under specs. Proof columns: the live body references
    // segments and carries NO inline dir names (tiered); the
    // last append's body stayed ≤ 40 lines while the snapshot holds
    // ≥ 8 dirs (commit_obatch — the O(batch) claim); and a point
    // predicate still prunes dirs from segment-carried stats
    // (skipping_survives).
    Q("q193_tiered_manifest",
      """SELECT doc_id, source,
        |  CAST(CASE WHEN doc_id % 7 = 3
        |         AND doc_id <= (SELECT max(doc_id) // 8 FROM documents)
        |       THEN n_chars * 3 ELSE n_chars END AS BIGINT) AS n_chars2,
        |  TRUE AS tiered, TRUE AS commit_obatch, TRUE AS skipping_survives
        |FROM documents WHERE doc_id % 10 <> 6
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_seg", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars2"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      def bound(i: Int) = maxId * i / 8
      def slice(i: Int) = docs.where(
        col("doc_id") > bound(i) && col("doc_id") <= bound(i + 1))
      Lake.commitOverwrite(docs.where(col("doc_id") <= bound(1)), root,
        retain = 4, statsCols = Seq("doc_id"))
      Lake.setTableProperties(s, root, Map(
        "graft.seg.threshold" -> "4", "graft.dvMaxRows" -> "100000"))
      (1 until 8).foreach(i => Lake.commitAppend(slice(i), root, retain = 4))
      def rawBody: Seq[String] = {
        val v = Lake.currentVersion(s, root).get
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, s"_commit_$v")), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      }
      val appendBody = rawBody
      val obatch = appendBody.size <= 40 &&
        Lake.resolve(s, root).size >= 8
      // merge-on-read delete: DV lines ride as inline overrides,
      // every segment carries by reference
      Lake.deleteWhere(s, root, col("doc_id") % 10 === 6, retain = 4)
      // copy-on-write update RESTRICTED to the first range: only that
      // dir rewrites (stats prune the rest out of `touched`), leaving
      // its segment through a #segdrop tombstone while every other
      // dir's stats line stays segment-carried
      Lake.updateWhere(s, root,
        col("doc_id") % 7 === 3 && col("doc_id") <= bound(1),
        Map("n_chars2" -> (col("n_chars2") * 3)), retain = 4,
        dvMaxRows = 0L)
      val finalBody = rawBody
      val tiered = finalBody.exists(_.startsWith("#seg=")) &&
        !finalBody.exists(l => !l.startsWith("#"))
      val (_, skipped) = Lake.pruneDirs(s, root, col("doc_id") === maxId)
      Lake.readCommitted(s, root).orderBy("doc_id")
        .withColumn("tiered", lit(tiered))
        .withColumn("commit_obatch", lit(obatch))
        .withColumn("skipping_survives", lit(skipped.nonEmpty))
    },

    // STRING-PREFIX SKIPPING (Iceberg's truncate[k]) under the oracle
    // hash — the everyday log-prefix predicate: `substring(u, 1, k) =
    // 'p'` / `u LIKE 'p%'` prunes on u's OWN string min/max stats
    // because a character prefix is non-decreasing under binary
    // string order (LakeSpec pins the collation guard: linguistic
    // collations refuse). The scenario commits 4 range-sliced dirs
    // with string stats on a zero-padded key, then gates the prune
    // count into the hash — a key-sliced log table must answer a
    // prefix filter with O(matching dirs) I/O, or prefix_pruned flips
    // FALSE. The read itself goes through the startsWith spelling so
    // both marker shapes sit under the hash.
    Q("q194_prefix_skipping",
      """SELECT doc_id, source,
        |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS u,
        |  TRUE AS prefix_pruned
        |FROM documents
        |WHERE lpad(CAST(doc_id AS VARCHAR), 8, '0') LIKE '0000001%'
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_prefix", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        lpad(col("doc_id").cast("string"), 8, "0").as("u"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      def bound(i: Int) = maxId * i / 4
      Lake.commitOverwrite(docs.where(col("doc_id") <= bound(1)), root,
        retain = 4, statsCols = Seq("u"))
      (1 until 4).foreach(i => Lake.commitAppend(
        docs.where(col("doc_id") > bound(i) && col("doc_id") <= bound(i + 1)),
        root, retain = 4))
      val (_, skipped) = Lake.pruneDirs(s, root,
        substring(col("u"), 1, 7) === "0000001")
      Lake.readCommittedWhere(s, root, col("u").startsWith("0000001"))
        .orderBy("doc_id")
        .withColumn("prefix_pruned", lit(skipped.nonEmpty))
    },

    // CHANGE FEED ACROSS A RENAME under the oracle hash — the round-17
    // refusal lifted: ids are stable under #colmap2, so the old side
    // of a rename-crossing range translates each CURRENT field to its
    // OLD logical path through the id tree and pre-images report under
    // the names the consumer knows today (Delta refuses this range).
    // The window also contains the id-mode UPGRADE itself (ids were
    // assigned mid-range — the first in-range tree serves as the old
    // side's tree after the flat-state equality check). Drops still
    // refuse with the span-split remedy (LakeColMapV2Spec). The oracle
    // recomputes the delete pre-images and post-rename inserts from
    // the base parquet under the CURRENT column name.
    Q("q195_cdf_rename",
      """WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS chars
        |           FROM documents),
        |q AS (SELECT max(doc_id) * 3 // 4 AS q3 FROM documents),
        |del AS (SELECT 'delete' AS change_type, doc_id, source, chars
        |        FROM d, q WHERE doc_id <= q3 AND doc_id % 9 = 4),
        |ins AS (SELECT 'insert' AS change_type, doc_id, source, chars
        |        FROM d, q WHERE doc_id > q3)
        |SELECT change_type, doc_id, source, chars FROM del
        |UNION ALL SELECT change_type, doc_id, source, chars FROM ins
        |ORDER BY doc_id, change_type""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_cdfren", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("val"))
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      val q3 = maxId * 3 / 4
      Lake.commitOverwrite(docs.where(col("doc_id") <= q3 / 2), root,
        retain = 8, statsCols = Seq("doc_id"))
      Lake.commitAppend(
        docs.where(col("doc_id") > q3 / 2 && col("doc_id") <= q3), root,
        retain = 8)
      val vFrom = Lake.currentVersion(s, root).get
      // inside the window: a COW delete, the id-mode upgrade, the
      // rename, and an insert generation under the NEW name
      Lake.deleteWhere(s, root, pmod(col("doc_id"), lit(9)) === 4,
        retain = 8)
      Lake.upgradeColumnMapping(s, root, retain = 8)
      Lake.renameColumn(s, root, "val", "chars", retain = 8)
      Lake.commitAppend(
        docs.where(col("doc_id") > q3).withColumnRenamed("val", "chars"),
        root, retain = 8)
      val vTo = Lake.currentVersion(s, root).get
      Lake.changesBetween(s, root, vFrom, vTo, Seq("doc_id"))
        .select(col("change_type"), col("doc_id"), col("source"),
          col("chars"))
        .orderBy("doc_id", "change_type")
    },

    // NESTED FIELDS through column mapping under the oracle hash —
    // struct-heavy event schemas are the second most common shape,
    // and a rename must stay metadata-only for them too: the events
    // feed commits with a STRUCT column, `RENAME COLUMN meta TO m`
    // re-points the container (dirs byte-identical, proof column),
    // a second generation appends under the NEW name, and the final
    // read filters on the NESTED field across both generations. The
    // `nested_pushdown` proof column reads the executed scan's
    // PushedFilters for the nested path — if nested predicate
    // pushdown ever stopped reaching the mapped scan, it flips FALSE
    // and the hash breaks (the logical→physical path translation
    // below the scan is unit-pinned in LakeColMapSpec).
    Q("q176_nested_predicate",
      """SELECT event_id, user_id, event_type AS etype,
        |  CAST(value AS DOUBLE) AS v,
        |  TRUE AS rename_metadata_only, TRUE AS nested_pushdown
        |FROM events
        |WHERE event_type = 'click' AND value > 0.5
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_nested", d)
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        struct(col("event_type").as("etype"),
          col("value").cast("double").as("v")).as("meta"))
      val maxId = ev.agg(max(col("event_id"))).collect().head.getLong(0)
      Lake.commitOverwrite(ev.where(col("event_id") <= maxId / 2), root,
        retain = 8, statsCols = Seq("event_id"))
      val preDirs = Lake.resolve(s, root).toSet
      Lake.renameColumn(s, root, "meta", "m")
      val metadataOnly = Lake.resolve(s, root).toSet == preDirs
      Lake.commitAppend(
        ev.where(col("event_id") > maxId / 2).withColumnRenamed("meta", "m"),
        root, retain = 8)
      val out = Lake.readCommitted(s, root)
        .where(col("m.etype") === "click" && col("m.v") > 0.5)
        .select(col("event_id"), col("user_id"),
          col("m.etype").as("etype"), col("m.v").as("v"))
        .orderBy("event_id")
      out.collect() // materialize so the executed plan exists
      val pushed = lakeScansOf(out.queryExecution.executedPlan)
        .flatMap(_.metadata.get("PushedFilters")).mkString
      out.withColumn("rename_metadata_only", lit(metadataOnly))
        .withColumn("nested_pushdown", lit(pushed.contains("m.etype")))
    },

    // IDENTITY COLUMNS under the oracle hash — GENERATED ALWAYS AS
    // IDENTITY as manifest state (the reference's `id SERIAL PRIMARY
    // KEY`, dags/sql/news.sql:2, at lake scale): three batches commit
    // WITHOUT the key column and the allocator hands each a
    // contiguous block, advancing the high-water mark atomically with
    // the rows. Ids are assignment-order-free, so the hash pins the
    // INVARIANTS instead of raw values: per-batch count, min/max
    // (derived arithmetically by the oracle from batch sizes —
    // blocks are contiguous AND allocated in commit order), distinct
    // count, and a gap-free proof column. A duplicated, skipped, or
    // overlapping id anywhere breaks the hash.
    Q("q175_identity_column",
      """WITH c AS MATERIALIZED (
        |  SELECT CAST(doc_id % 3 AS BIGINT) AS batch,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1)
        |SELECT batch, n AS n_rows,
        |  CAST(1 + coalesce(sum(n) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS min_id,
        |  CAST(coalesce(sum(n) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n
        |    AS BIGINT) AS max_id,
        |  n AS n_distinct, TRUE AS gap_free
        |FROM c ORDER BY batch""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_identity", d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3)).as("batch"))
      Lake.commitOverwrite(docs.where(col("batch") === 0L), root,
        retain = 8, identity = Some("id"))
      Lake.commitAppend(docs.where(col("batch") === 1L), root, retain = 8)
      Lake.commitAppend(docs.where(col("batch") === 2L), root, retain = 8)
      Lake.readCommitted(s, root).groupBy(col("batch"))
        .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"),
          countDistinct(col("id")).as("n_distinct"))
        .withColumn("gap_free",
          col("max_id") - col("min_id") + 1 === col("n_rows") &&
            col("n_distinct") === col("n_rows"))
        .orderBy("batch")
    },

    // TIMESTAMP-BOUNDED CHANGE FEED under the oracle hash — Delta's
    // `table_changes(t, '<instant>', …)`: consumers know wall-clock
    // windows, not version numbers, so graft_changes accepts instants
    // and resolves each to the snapshot LIVE at that moment via the
    // manifests' own `#ts=` commit instants. The scenario reads the
    // instants back from DESCRIBE HISTORY (the only public clock the
    // protocol has) and pulls the feed between the FIRST and LAST
    // commit instants; rows inserted then deleted INSIDE the window
    // must net out (the snapshot-diff contract), which the oracle
    // recomputes arithmetically from the base table.
    Q("q174_ts_changefeed",
      """WITH d AS MATERIALIZED (SELECT doc_id FROM documents)
        |SELECT doc_id, 'insert' AS change_type FROM d
        |WHERE doc_id % 3 = 1 AND doc_id % 97 <> 4
        |UNION ALL
        |SELECT doc_id, 'delete' AS change_type FROM d
        |WHERE doc_id % 3 = 0 AND doc_id % 97 = 4
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_tsfeed", d)
      val ids = Tables.documents(s, d).select("doc_id")
      Lake.commitAppend(ids.where(pmod(col("doc_id"), lit(3)) === 0),
        root, retain = 8)                                        // v0
      Thread.sleep(10) // commit instants are millisecond-granular
      Lake.commitAppend(ids.where(pmod(col("doc_id"), lit(3)) === 1),
        root, retain = 8)                                        // v1
      Thread.sleep(10)
      Lake.deleteWhere(s, root, pmod(col("doc_id"), lit(97)) === 4,
        retain = 8)                                              // v2
      val ts = Lake.describeHistory(s, root).orderBy("version")
        .select("commit_ts").collect().map(_.getTimestamp(0))
      s.sql(s"SELECT doc_id, change_type FROM graft_changes('$root', " +
        s"'${ts.head}', '${ts.last}', 'doc_id') ORDER BY doc_id")
    },

    // DURABLE TABLE PROPERTIES under the oracle hash — TBLPROPERTIES
    // as manifest state (Delta parity): `graft.retain` is set ONCE
    // via SQL and then governs three argless appends (the
    // `horizon_governed` proof column reads the retained-version list
    // — had the built-in default (1) still governed, only the last
    // two versions would survive and the hash would break), a second
    // SET proves per-key merge semantics, and the result IS the
    // `SHOW TBLPROPERTIES` output joined with the table's row count
    // (ties the scenario to the data — a lost append breaks it). At
    // 100 TB the point is governance: the time-travel horizon is
    // table state, not an argument two writers can disagree on.
    Q("q172_tblproperties",
      """WITH p AS MATERIALIZED (
        |  SELECT 'dept' AS key, 'ml-platform' AS value
        |  UNION ALL SELECT 'graft.retain', '6')
        |SELECT p.key, p.value,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
        |  TRUE AS horizon_governed
        |FROM p ORDER BY key""".stripMargin) { (s, d) =>
      val root = scratchRoot("lake_props", d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
      Lake.commitOverwrite(docs.where(pmod(col("doc_id"), lit(4)) === 0),
        root) // v0, no retain argument anywhere in this scenario
      s.sql("DROP TABLE IF EXISTS props_docs")
      s.sql(s"CREATE TABLE props_docs USING `graft-lake` OPTIONS (root '$root')")
      s.sql("ALTER TABLE props_docs SET TBLPROPERTIES " +
        "('dept' = 'data-eng', 'graft.retain' = '6')") // v1
      (1 to 3).foreach { i =>
        Lake.commitAppend(docs.where(pmod(col("doc_id"), lit(4)) === i),
          root) // v2..v4, argless: the PROPERTY governs retention
        ()
      }
      s.sql("ALTER TABLE props_docs SET TBLPROPERTIES " +
        "('dept' = 'ml-platform')") // v5: merges, keeps graft.retain
      val horizonOk = Lake.readableVersions(s, root) == (0L to 5L)
      val nRows = s.sql("SELECT count(*) FROM props_docs")
        .collect().head.getLong(0)
      s.sql("SHOW TBLPROPERTIES props_docs")
        .withColumn("n_rows", lit(nRows))
        .withColumn("horizon_governed", lit(horizonOk))
        .orderBy("key")
    })

  /** Lake scans of an executed plan, descending through AQE query
    * stages (their subtrees are members, not children — plain collect
    * misses them). */
  private def lakeScansOf(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
    case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.isInstanceOf[graft.sources.LakeFileIndex] =>
      Seq(s)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      lakeScansOf(q.plan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      lakeScansOf(a.executedPlan)
  }.flatten
}
