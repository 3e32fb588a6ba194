package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** The lake format as a DataSource V2 TableCatalog: DDL, scans, writes,
  * SQL MERGE INTO (via the GraftMergeRewrite analyzer rule registered by
  * graft.sql.GraftExtensions in SparkSuite), and SQL time travel. */
class GraftSqlSpec extends SparkSuite {
  import spark.implicits._

  private def freshCatalog(tag: String): String = {
    val cat = s"gt$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"wh-$tag"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  test("catalog DDL + INSERT + SELECT + INSERT OVERWRITE through Catalyst") {
    val cat = freshCatalog("ddl")
    spark.sql(s"""CREATE TABLE $cat.db.t (repo STRING, path STRING, content STRING)
                  TBLPROPERTIES ('primary_key'='repo,path', 'buckets'='4')""")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect().map(_.getString(1)).toSeq == Seq("t"))
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('r1','a','x1'), ('r1','b','x2')")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 2)
    // appends accumulate; INSERT OVERWRITE replaces
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('r2','c','x3')")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 3)
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES ('r9','z','x9')")
    val rows = spark.sql(s"SELECT repo, path FROM $cat.db.t").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "r9")
    // table properties surface PK/buckets/snapshot version
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("primary_key") == "repo,path" && props("buckets") == "4")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").schema.fieldNames.toSeq ==
      Seq("repo", "path", "content"))
    // DROP removes the table root
    spark.sql(s"DROP TABLE $cat.db.t")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").count() == 0)
  }

  test("SQL MERGE INTO: update-all / insert-all / delete legs on the CoW kernel") {
    val cat = freshCatalog("merge")
    spark.sql(s"""CREATE TABLE $cat.db.t (repo STRING, path STRING, commit_id STRING, content STRING)
                  TBLPROPERTIES ('primary_key'='repo,path', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('r1','a','c1','x1'), ('r1','b','c2','x2')")
    // update + insert
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'r1' repo, 'a' path, 'c9' commit_id, 'x9' content
                 UNION ALL SELECT 'r2', 'n', 'c8', 'x8') s
          ON t.repo = s.repo AND t.path = s.path
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val s1 = spark.sql(s"SELECT path, commit_id FROM $cat.db.t ORDER BY path")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(s1 == Seq(("a", "c9"), ("b", "c2"), ("n", "c8")))
    // delete leg keyed on a source predicate (CDC tombstone interpretation)
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'r1' repo, 'b' path, 'DEL' commit_id, '' content) s
          ON t.repo = s.repo AND t.path = s.path
          WHEN MATCHED AND s.commit_id = 'DEL' THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(s"SELECT path FROM $cat.db.t ORDER BY path")
      .collect().map(_.getString(0)).toSeq == Seq("a", "n"))
    // a MERGE on the fenced kernel keeps the epoch fence untouched (ad-hoc
    // merges carry the fence forward; replayed engine epochs stay fenced)
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    assert(LakeTable.load(spark, root, "t").snapshot.epochId == -1L)
  }

  test("SQL MERGE: unsupported shapes fall through to Spark's own error") {
    val cat = freshCatalog("mbad")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    def refused(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains("MERGE INTO TABLE"), e.getMessage)
    }
    // a PK assignment is a key rewrite no keyed merge can express
    refused(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'v' v) s ON t.k = s.k
                WHEN MATCHED THEN UPDATE SET t.k = 'zz'""")
    // an unqualified SET value living on BOTH sides is ambiguous — refused
    // (falls through to Spark, whose resolver names the ambiguity)
    val amb = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'v' v) s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET t.v = v""")
    }
    assert(amb.getMessage.contains("AMBIGUOUS_REFERENCE"), amb.getMessage)
    // non-PK condition likewise
    refused(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'v' v) s ON t.v = s.v
                WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    // tautological ON (both sides the same relation) must NOT lower to a PK
    // merge — it means something entirely different under real MERGE
    refused(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'v' v) s ON t.k = t.k
                WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    // a DELETE condition over TARGET columns would silently rebind to the
    // source's same-named column — refused instead
    refused(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'v' v) s ON t.k = s.k
                WHEN MATCHED AND t.v = 'x' THEN DELETE
                WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
  }

  test("SQL MERGE partial SET: two-sided expressions, leg condition, untouched non-passers") {
    val cat = freshCatalog("mpartial")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2),('c','x',3)")
    // conditional partial update: only s.n >= 20 rows change; the assigned
    // column mixes target + source refs; non-assigned `kind` keeps the
    // TARGET value (ANSI); absent key 'z' takes the INSERT leg
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'ign' kind, CAST(10 AS BIGINT) n
                 UNION ALL SELECT 'c', 'ign', 20
                 UNION ALL SELECT 'z', 'fresh', 30) s
          ON t.k = s.k
          WHEN MATCHED AND s.n >= 20 THEN UPDATE SET n = t.n + s.n
          WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "x", 1L), ("b", "y", 2L), ("c", "x", 23L), ("z", "fresh", 30L)),
      s"got $got")
    // update-only MERGE (no insert leg): unmatched source rows are dropped;
    // unconditional partial update touches every matched key
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'b' k UNION ALL SELECT 'nope') s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET kind = concat(t.kind, '+')""")
    val kinds = spark.sql(s"SELECT k, kind FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(kinds == Seq("a" -> "x", "b" -> "y+", "c" -> "x", "z" -> "fresh"), s"got $kinds")
    // DELETE leg + partial update coexist
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'D' tag, CAST(0 AS BIGINT) d
                 UNION ALL SELECT 'c', 'U', 100) s
          ON t.k = s.k
          WHEN MATCHED AND s.tag = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET n = s.d""")
    val after = spark.sql(s"SELECT k, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(after == Seq("b" -> 2L, "c" -> 100L, "z" -> 30L), s"got $after")
    // conditional SET * lowers through the same path (all-source payload)
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'b' k, 'star' kind, CAST(77 AS BIGINT) n) s
          ON t.k = s.k
          WHEN MATCHED AND s.n > 5 THEN UPDATE SET *""")
    val b = spark.sql(s"SELECT kind, n FROM $cat.db.t WHERE k = 'b'").collect()(0)
    assert(b.getString(0) == "star" && b.getLong(1) == 77L)
    // a target KEY reference in an assignment value resolves to the
    // probe-join-shared key column (the ON clause equates t.k and s.k)
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING (SELECT 'b' k) s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET kind = concat(t.k, '#')""")
    assert(spark.sql(s"SELECT kind FROM $cat.db.t WHERE k = 'b'")
      .collect()(0).getString(0) == "b#")
  }

  test("SQL MERGE leg conditions that evaluate NULL do not fire (ANSI 3VL)") {
    val cat = freshCatalog("mnull")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2)")
    // 'a' arrives with op = NULL: the DELETE-leg condition s.op = 'delete'
    // evaluates NULL — ANSI says the leg does not fire, so the row must take
    // its UPDATE SET assignments (kind kept at the TARGET value), never the
    // INSERT payload (the pre-fix silent-wrong-data path)
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'SRC' kind, CAST(NULL AS STRING) op, CAST(50 AS BIGINT) n
                 UNION ALL SELECT 'z', 'fresh', 'keep', 9) s
          ON t.k = s.k
          WHEN MATCHED AND s.op = 'delete' THEN DELETE
          WHEN MATCHED THEN UPDATE SET n = t.n + s.n
          WHEN NOT MATCHED THEN INSERT (k, kind, n) VALUES (s.k, s.kind, s.n)""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "x", 51L), ("b", "y", 2L), ("z", "fresh", 9L)), s"got $got")
    // NULL update condition leaves the matched row UNTOUCHED; NULL insert
    // condition drops the unmatched row
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'b' k, 'ign' kind, CAST(NULL AS STRING) op, CAST(100 AS BIGINT) n
                 UNION ALL SELECT 'w', 'ign', NULL, 5) s
          ON t.k = s.k
          WHEN MATCHED AND s.op = 'u' THEN UPDATE SET n = s.n
          WHEN NOT MATCHED AND s.op = 'i' THEN INSERT (k, kind, n) VALUES (s.k, s.kind, s.n)""")
    val after = spark.sql(s"SELECT k, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(after == Seq("a" -> 51L, "b" -> 2L, "z" -> 9L), s"got $after")
  }

  test("SQL MERGE multi-leg: ordered conditional UPDATE legs fire first-match") {
    val cat = freshCatalog("mmulti")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2),('c','z',3),('d','w',4)")
    // three matched legs, first-match: s.n >= 100 wins over s.n >= 10 wins
    // over the unconditional tail; non-assigned columns keep TARGET values
    // per leg; a NULL condition skips its leg without blocking later ones
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, CAST(500 AS BIGINT) n
                 UNION ALL SELECT 'b', 50
                 UNION ALL SELECT 'c', 5
                 UNION ALL SELECT 'd', NULL
                 UNION ALL SELECT 'e', 70) s
          ON t.k = s.k
          WHEN MATCHED AND s.n >= 100 THEN UPDATE SET kind = 'big'
          WHEN MATCHED AND s.n >= 10 THEN UPDATE SET kind = 'mid', n = t.n + s.n
          WHEN MATCHED THEN UPDATE SET n = coalesce(s.n, -1)
          WHEN NOT MATCHED THEN INSERT (k, kind, n) VALUES (s.k, 'ins', s.n)""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("a", "big", 1L),   // leg 1: kind only, n keeps target
      ("b", "mid", 52L),  // leg 2: two-sided assignment
      ("c", "z", 5L),     // tail: n from source, kind keeps target
      ("d", "w", -1L),    // NULL condition falls through to the tail
      ("e", "ins", 70L)), s"got $got")
  }

  test("SQL MERGE multi-leg: DELETE between UPDATE legs; target-ref delete condition") {
    val cat = freshCatalog("mdel")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2),('c','z',3),('d','w',4)")
    // archive leg SHADOWS the delete leg (first-match), delete shadows the tail
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'archive' op, CAST(10 AS BIGINT) n
                 UNION ALL SELECT 'b', 'delete', 20
                 UNION ALL SELECT 'c', 'other', 30) s
          ON t.k = s.k
          WHEN MATCHED AND s.op = 'archive' THEN UPDATE SET kind = 'archived'
          WHEN MATCHED AND s.op = 'delete' THEN DELETE
          WHEN MATCHED THEN UPDATE SET n = s.n""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "archived", 1L), ("c", "z", 30L), ("d", "w", 4L)), s"got $got")
    // a folded DELETE condition may reference the TARGET (canonicalized path)
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, CAST(100 AS BIGINT) n
                 UNION ALL SELECT 'c', CAST(0 AS BIGINT)) s
          ON t.k = s.k
          WHEN MATCHED AND t.n < s.n THEN DELETE
          WHEN MATCHED AND s.n >= 0 THEN UPDATE SET kind = 'kept'
          WHEN MATCHED THEN UPDATE SET kind = 'other'""")
    val after = spark.sql(s"SELECT k, kind FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    // 'a' (t.n=1 < 100) deleted; 'c' (t.n=30 >= 0) kept
    assert(after == Seq("c" -> "kept", "d" -> "w"), s"got $after")
  }

  test("SQL MERGE multi-leg: ordered NOT MATCHED legs pick first-match payloads") {
    val cat = freshCatalog("minsmulti")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1)")
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'p' k, 'new' op, 'kp' kind, CAST(5 AS BIGINT) n
                 UNION ALL SELECT 'q', 'other', 'kq', 60
                 UNION ALL SELECT 'r', 'other', 'kr', 10
                 UNION ALL SELECT 'a', 'other', 'ka', 99) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET n = s.n
          WHEN NOT MATCHED AND s.op = 'new' THEN INSERT (k, kind) VALUES (s.k, 'fresh')
          WHEN NOT MATCHED AND s.n > 50 THEN INSERT (k, kind, n) VALUES (s.k, s.kind, s.n)""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) -99L else r.getLong(2))).toSeq
    // p: leg 1 (kind='fresh', n NULL-filled); q: leg 2 (source payload);
    // r: neither leg -> dropped; a: matched update
    assert(got == Seq(("a", "x", 99L), ("p", "fresh", -99L), ("q", "kq", 60L)), s"got $got")
    // star + partial mixed multi-insert
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'u' k, 'su' kind, CAST(200 AS BIGINT) n
                 UNION ALL SELECT 'v', 'sv', 1) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET n = s.n
          WHEN NOT MATCHED AND s.n > 100 THEN INSERT *
          WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n + 1000)""")
    val ins = spark.sql(s"SELECT k, kind, n FROM $cat.db.t WHERE k IN ('u','v') ORDER BY k")
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(ins == Seq(("u", Some("su"), 200L), ("v", None, 1001L)), s"got $ins")
  }

  test("SQL MERGE NOT MATCHED BY SOURCE: full-sync + conditional + standalone delete leg") {
    val cat = freshCatalog("mnmbs")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, v BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','keep',1),('b','old',2),('c','old',3),('d','keep',4)")
    // the classic full-sync shape: update existing, insert new, delete absent
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'upd' kind, CAST(10 AS BIGINT) v
                 UNION ALL SELECT 'e', 'new', 50) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val sync = spark.sql(s"SELECT k, kind, v FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(sync == Seq(("a", "upd", 10L), ("e", "new", 50L)), s"got $sync")
    // conditional third leg: only target rows passing the (target-only)
    // condition are tombstoned
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('x','old',7),('y','keep',8)")
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'upd2' kind, CAST(11 AS BIGINT) v) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED BY SOURCE AND t.kind = 'old' THEN DELETE""")
    val cond = spark.sql(s"SELECT k, kind FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(cond == Seq("a" -> "upd2", "e" -> "new", "y" -> "keep"), s"got $cond")
    // standalone third leg (no matched/insert legs, slim key-only source):
    // matched keys are untouched, everything else tombstoned
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING (SELECT 'e' k) s ON t.k = s.k
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val only = spark.sql(s"SELECT k, kind, v FROM $cat.db.t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(only == Seq(("e", "new", 50L)), s"got $only")
    // a source-referencing third-leg condition is invalid (no source row
    // exists for a not-matched-by-source key) — falls through to Spark
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.db.t t USING (SELECT 'e' k) s ON t.k = s.k
                    WHEN NOT MATCHED BY SOURCE AND s.k = 'q' THEN DELETE""")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 1,
      "refused shapes must not mutate the table")
  }

  test("SQL MERGE partial INSERT lists and NOT MATCHED BY SOURCE UPDATE") {
    val cat = freshCatalog("mins")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2)")
    // partial INSERT: keys identity-to-source, expr values, unlisted `kind`
    // inserts NULL; matched rows update-all
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'up' kind, CAST(5 AS BIGINT) n
                 UNION ALL SELECT 'c', 'ign', 7) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n * 10)""")
    val got = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "up", 5L), ("b", "y", 2L), ("c", null, 70L)), s"got $got")
    // NOT MATCHED BY SOURCE UPDATE: stale rows (absent from the source) are
    // flagged in place with target-referencing assignments
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k) s ON t.k = s.k
          WHEN NOT MATCHED BY SOURCE AND t.n < 50 THEN
            UPDATE SET kind = concat(coalesce(kind, '?'), ':stale'), n = n + 100""")
    val flagged = spark.sql(s"SELECT k, kind, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    assert(flagged == Seq(("a", "up", 5L), ("b", "y:stale", 102L), ("c", null, 70L)),
      s"got $flagged")
    // a non-identity key value in a partial INSERT could upsert a key the
    // matched-ness probe never tested — refused
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.db.t t USING (SELECT 'zz' k, CAST(1 AS BIGINT) n) s
                    ON t.k = s.k
                    WHEN NOT MATCHED THEN INSERT (k, n) VALUES (concat(s.k, '!'), s.n)""")
    }
    // PK assignment in the by-source UPDATE likewise
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k) s ON t.k = s.k
                    WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = 'moved'""")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 3,
      "refused shapes must not mutate the table")
    // delete-only matched leg (the toggle shape): listed keys tombstone,
    // everything else untouched, unmatched source keys are no-ops
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k UNION ALL SELECT 'c' UNION ALL SELECT 'absent') s
          ON t.k = s.k
          WHEN MATCHED THEN DELETE""")
    assert(spark.sql(s"SELECT k FROM $cat.db.t").collect().map(_.getString(0)).toSeq == Seq("b"),
      "delete-only MERGE must remove exactly the matched keys")
  }

  test("SQL MERGE keeps ANSI matched semantics: absent-key 'deletes' hit the INSERT leg") {
    val cat = freshCatalog("mansi")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','I','1')")
    // unconditional INSERT *: a source 'delete' for an ABSENT key is NOT
    // matched, so ANSI inserts it (the DELETE leg is a matched-only leg)
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'a' k, 'D' kind, '' v UNION ALL SELECT 'zz', 'D', 'x') s
          ON t.k = s.k
          WHEN MATCHED AND s.kind = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val s1 = spark.sql(s"SELECT k FROM $cat.db.t ORDER BY k").collect().map(_.getString(0)).toSeq
    assert(s1 == Seq("zz"), s"matched 'a' deleted, unmatched 'zz' inserted: $s1")
    // tombstone-stream form: the insert condition excludes deletes, so an
    // absent-key delete is a no-op
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'nope' k, 'D' kind, '' v) s
          ON t.k = s.k
          WHEN MATCHED AND s.kind = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED AND s.kind <> 'D' THEN INSERT *""")
    val s2 = spark.sql(s"SELECT k FROM $cat.db.t ORDER BY k").collect().map(_.getString(0)).toSeq
    assert(s2 == Seq("zz"), s"absent-key tombstone must be a no-op: $s2")
  }

  test("MERGE target with a payload column named op/lsn is refused with a clear error") {
    val cat = freshCatalog("mres")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, op STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','I')") // append path: any names OK
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, 'U' op) s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("reserved metadata columns"), e.getMessage)
  }

  test("SQL time travel: VERSION AS OF reads historical snapshots exactly") {
    val cat = freshCatalog("tt")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1'), ('b','1')")
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, '2' v UNION ALL SELECT 'c', '2') s
          ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 0").count() == 0) // empty create
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 1").count() == 2)
    val v1 = spark.sql(s"SELECT v FROM $cat.db.t VERSION AS OF 1 WHERE k = 'a'")
      .collect()(0).getString(0)
    assert(v1 == "1", "the pre-merge snapshot must read its own value")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 3)
  }

  test("SQL time travel: TIMESTAMP AS OF resolves commit wall-clocks like VERSION AS OF") {
    val cat = freshCatalog("ttts")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1')")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    val ts1 = LakeTable.load(spark, root, "t").snapshot.committedAt.get
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('b','2')")
    // the literal is parsed in the SESSION time zone — format in it
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone(
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))))
    val lit1 = fmt.format(new java.util.Date(ts1))
    assert(spark.sql(s"SELECT * FROM $cat.db.t TIMESTAMP AS OF '$lit1'").count() == 1,
      "the as-of read must see exactly the first insert's snapshot")
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 1").count() == 1)
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 2)
    // a timestamp that predates the table fails loudly, never reads-empty
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.t TIMESTAMP AS OF '1990-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  test("non-cascade DROP NAMESPACE refuses when NESTED namespaces hold tables") {
    val cat = freshCatalog("nsdrop")
    spark.sql(s"CREATE NAMESPACE $cat.db.inner")
    spark.sql(s"""CREATE TABLE $cat.db.inner.t (k STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.inner.t VALUES ('a')")
    // direct children of db are only namespaces — the pre-fix emptiness
    // check (listTables) saw nothing and deleted the nested table
    val e = intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.db") }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    assert(spark.sql(s"SELECT * FROM $cat.db.inner.t").count() == 1,
      "refused drop must leave the nested table intact")
    spark.sql(s"DROP NAMESPACE $cat.db CASCADE")
    assert(!new java.io.File(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db").exists())
  }

  test("MERGE matched-ness probe is bucket-pruned; a source _matched column cannot collide") {
    val cat = freshCatalog("mprobe")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='8')""")
    val vals = (0 until 64).map(i => s"('k$i','v$i')").mkString(", ")
    spark.sql(s"INSERT INTO $cat.db.t VALUES $vals")
    graft.sql.GraftMergeCommand.lastProbe.set(None)
    // conditional legs force the probe; the source's own _matched column is
    // ALSO the delete discriminator — binds to the source, never the flag
    spark.sql(
      s"""MERGE INTO $cat.db.t t
          USING (SELECT 'k3' k, 'dead' v, true _matched
                 UNION ALL SELECT 'k5', 'new', false) s
          ON t.k = s.k
          WHEN MATCHED AND s._matched THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED AND s._matched = false THEN INSERT *""")
    val ks = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE k IN ('k3','k5')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!ks.contains("k3"), "matched row with _matched=true must be deleted")
    assert(ks.get("k5").contains("new"), "matched row with _matched=false must update")
    val (probed, total) = graft.sql.GraftMergeCommand.lastProbe.get()
      .getOrElse(fail("conditional MERGE must run the matched-ness probe"))
    assert(probed < total && probed <= 2,
      s"2-key source must probe at most 2 buckets' files, read $probed of $total")
  }

  test("SQL DELETE FROM / UPDATE lower onto the tombstone merge kernel") {
    val cat = freshCatalog("rowlevel")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, kind STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','x',1),('b','y',2),('c','x',3),('d','y',4)")
    // conditional UPDATE with an expression over target columns
    spark.sql(s"UPDATE $cat.db.t SET n = n * 10 WHERE kind = 'x'")
    val afterUpdate = spark.sql(s"SELECT k, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(afterUpdate == Seq("a" -> 10L, "b" -> 2L, "c" -> 30L, "d" -> 4L))
    // DELETE by predicate
    spark.sql(s"DELETE FROM $cat.db.t WHERE n >= 30")
    assert(spark.sql(s"SELECT k FROM $cat.db.t ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "d"))
    // unconditional UPDATE touches every row
    spark.sql(s"UPDATE $cat.db.t SET kind = concat(kind, '!')")
    assert(spark.sql(s"SELECT DISTINCT kind FROM $cat.db.t ORDER BY kind").collect()
      .map(_.getString(0)).toSeq == Seq("x!", "y!"))
    // row-level ops are fenced-kernel merges: the epoch fence is untouched
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    assert(LakeTable.load(spark, root, "t").snapshot.epochId == -1L)
    // unsupported shapes fall through to Spark's own error: PK assignment
    // (a keyed merge cannot express a PK rewrite) and subquery predicates
    intercept[Exception] { spark.sql(s"UPDATE $cat.db.t SET k = 'z' WHERE kind = 'x!'") }
    intercept[Exception] { spark.sql(s"DELETE FROM $cat.db.t WHERE k IN (SELECT 'a')") }
    // an unknown SET column must surface Spark's unresolved-column error,
    // never lower into a merge that silently drops the assignment
    intercept[Exception] { spark.sql(s"UPDATE $cat.db.t SET no_such_col = 'x'") }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 3,
      "refused shapes must not mutate the table")
  }

  test("SQL DELETE/UPDATE derive their batch in ONE scan (persisted, narrow tombstones)") {
    val cat = freshCatalog("onescan")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, kind STRING, payload STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    val rows = (0 until 400).map(i => s"($i,'kind$i','${"p" * 32}$i')").mkString(", ")
    spark.sql(s"INSERT INTO $cat.db.t VALUES $rows")
    // records-read budget: the derived batch must EXECUTE once (persisted),
    // so a single-key command reads ~ R (one derivation scan) + R/4 (the one
    // touched bucket's re-read) — the pre-fix shape re-scanned the full
    // table for the write leg too (~2.25 R)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null) records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    def settledRecords(): Long = {
      var last = -1L; var stableFor = 0
      while (stableFor < 5) {
        val c = records.get()
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      last
    }
    try {
      spark.sql(s"UPDATE $cat.db.t SET kind = 'flagged' WHERE k = 7")
      val updRecords = settledRecords()
      assert(updRecords < 640, s"single-key UPDATE must scan the table once, read $updRecords rows")
      records.set(0L)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k = 9")
      val delRecords = settledRecords()
      assert(delRecords < 640, s"single-key DELETE must scan the table once, read $delRecords rows")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
    assert(spark.sql(s"SELECT kind FROM $cat.db.t WHERE k = 7").collect()(0).getString(0) == "flagged")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 399)
    // DELETE tombstones are key-only: the payload column must still read
    // back intact for every surviving row (nulls never leak)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE payload IS NULL")
      .collect()(0).getLong(0) == 0)
  }

  test("t.history metadata table surfaces the commit log; CTAS creates and fills a table") {
    val cat = freshCatalog("hist")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1')")
    spark.sql(s"""MERGE INTO $cat.db.t t USING (SELECT 'a' k, '2' v) s ON t.k = s.k
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val hist = spark.sql(
      s"SELECT version, epoch_id, lsn_high FROM $cat.db.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hist.map(_._1) == Seq(0L, 1L, 2L), s"one row per snapshot: $hist")
    assert(hist.last._3 == 1L, s"the merge stamps lsn_high: $hist")
    assert(spark.sql(s"SELECT committed_at FROM $cat.db.t.history").collect()
      .forall(!_.isNullAt(0)), "every commit carries its wall-clock")
    // CTAS through the catalog (create + insert, non-staging)
    spark.sql(s"CREATE TABLE $cat.db.t2 AS SELECT k, v FROM $cat.db.t")
    assert(spark.sql(s"SELECT v FROM $cat.db.t2").collect()(0).getString(0) == "2")
  }

  test("t.files metadata table lists the live inventory of every bucket manifest") {
    val cat = freshCatalog("fil")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(0, 400)")
    val rows = spark.sql(
      s"SELECT path, bucket, kind, rows, bytes, stats_json FROM $cat.db.t.files").collect()
    assert(rows.length == 4 && rows.map(_.getInt(1)).toSet == Set(0, 1, 2, 3))
    assert(rows.map(_.getLong(3)).sum == 400 && rows.forall(_.getLong(4) > 0))
    assert(rows.forall(_.getString(2) == "base"))
    assert(rows.forall(r => r.getString(5) != null && r.getString(5).contains("\"k\"")),
      "every file carries its skipping bounds as JSON")
    // MoR deltas appear with their kind and lsn range
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = graft.cdc.lake.LakeTable.load(spark, s"$wh/db/t", "t")
    import spark.implicits._
    assert(t.deltaAppend(Seq((1L, "x", 5L, "U")).toDF("k", "v", "lsn", "op"), 9L).committed)
    val byKind = spark.sql(
      s"SELECT kind, count(*) c, max(lsn_max) m FROM $cat.db.t.files GROUP BY kind")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byKind("base")._1 == 4 && byKind("delta") == ((1L, 5L)), s"got $byKind")
    // a 128-bucket table: its manifests are parsed on EXECUTORS
    spark.sql(s"""CREATE TABLE $cat.db.big (k BIGINT, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='128')""")
    spark.sql(s"INSERT INTO $cat.db.big SELECT id, concat('v', id) FROM range(0, 2000)")
    val big = spark.sql(
      s"SELECT count(*) nf, CAST(sum(rows) AS BIGINT) nr FROM $cat.db.big.files").head
    assert(big.getLong(1) == 2000 && big.getLong(0) >= 64, s"got $big")
  }

  test("CALL g.system.*: SQL maintenance procedures drive the full table lifecycle") {
    val cat = freshCatalog("proc")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    // two appends -> multi-file buckets -> compact folds them
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1'), ('b','2'), ('c','3'), ('d','4')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('e','5'), ('f','6'), ('g','7'), ('h','8')")
    assert(spark.sql(s"SHOW PROCEDURES IN $cat").collect().map(_.getString(3)).toSet ==
      graft.sql.GraftProcedures.names.toSet)
    // named-argument CALL with the default min_files
    val compacted = spark.sql(s"CALL $cat.system.compact(`table` => 'db.t')")
    assert(compacted.schema.fieldNames.toSeq == Seq("buckets_compacted"))
    assert(compacted.collect()(0).getInt(0) > 0, "multi-file buckets must fold")
    // positional CALL; vacuum drops the superseded snapshots
    val vac = spark.sql(s"CALL $cat.system.vacuum('db.t', 1)").collect()(0)
    assert(vac.getInt(0) > 0 && vac.getInt(1) > 0, s"vacuum must GC: $vac")
    // no deltas outstanding -> compact_deltas reports zero
    assert(spark.sql(s"CALL $cat.system.compact_deltas('db.t')").collect()(0).getInt(0) == 0)
    // age-based retention with a huge window removes nothing
    val exp = spark.sql(s"CALL $cat.system.expire_snapshots('db.t', 9999)").collect()(0)
    assert(exp.getInt(0) == 0 && exp.getInt(1) == 0)
    // rebucket through SQL; data + point lookups survive on the new layout
    val reb = spark.sql(s"CALL $cat.system.rebucket('db.t', 8)").collect()(0)
    assert(reb.getInt(1) == 8)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 8L)
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 'f'").collect()(0).getString(0) == "6")
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .exists(r => r.getString(0) == "buckets" && r.getString(1) == "8"))
    // unknown procedure / wrong namespace refuse with the available list
    // (Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE; the
    // actionable message rides the cause chain)
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e1 = intercept[Exception](spark.sql(s"CALL $cat.system.nope('db.t')"))
    assert(chain(e1).contains("available"), chain(e1))
    val e2 = intercept[Exception](spark.sql(s"CALL $cat.db.compact('db.t')"))
    assert(chain(e2).contains("system"), chain(e2))
    // a procedure against a missing table surfaces the standard error
    intercept[Exception](spark.sql(s"CALL $cat.system.compact('db.missing')"))
  }

  test("SQL ALTER TABLE: additive ADD COLUMNS + properties; destructive changes refused") {
    val cat = freshCatalog("alter")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1')")
    // additive nullable column -> metadata-only schema evolution; existing
    // rows conform on read (null-filled)
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (stars BIGINT)")
    val row = spark.sql(s"SELECT k, v, stars FROM $cat.db.t").collect()(0)
    assert(row.getString(0) == "a" && row.isNullAt(2))
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('b','2',7)")
    assert(spark.sql(s"SELECT stars FROM $cat.db.t WHERE k='b'").collect()(0).getLong(0) == 7L)
    // properties round-trip incl. UNSET
    spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('team'='graft')")
    def props() = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team").contains("graft"))
    spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('team')")
    assert(!props().contains("team"))
    // destructive changes are refused by design (additive evolution only)
    val drop = intercept[Exception] { spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN v") }
    assert(drop.getMessage.contains("additive"), drop.getMessage)
  }

  test("SQL ALTER COLUMN TYPE: widening evolves metadata-only; narrowing and key widening refuse") {
    val cat = freshCatalog("widen")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, n INT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20)")
    // widen non-key INT -> BIGINT: old files cast on read, new rows native
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, ${Long.MaxValue}L)")
    val got = spark.sql(s"SELECT k, n FROM $cat.db.t ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 10L, 2L -> 20L, 3L -> Long.MaxValue), s"got $got")
    // narrowing refuses — Spark's analyzer pre-rejects non-upcast changes
    // before the catalog (the registry's widening lattice backstops the
    // programmatic evolveSchema path, SchemaEvolutionSpec)
    val narrow = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE INT")
    }
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), narrow.getMessage)
    // a KEY column's type feeds the bucket hash: widening it would re-home
    // every existing key away from its stored rows — refused at the engine
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    val t2root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t2"
    spark.sql(s"""CREATE TABLE $cat.db.t2 (k INT, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    val keyWiden = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t2 ALTER COLUMN k TYPE BIGINT")
    }
    assert(keyWiden.getMessage.contains("key column"), keyWiden.getMessage)
    assert(LakeTable.load(spark, t2root, "t2").snapshot.schemaVersion == 1,
      "refused key widening must not cut a schema version")
    assert(LakeTable.load(spark, root, "t").snapshot.schemaVersion == 2,
      "non-key widening cuts exactly one new schema version")
  }

  test("a resolved SQL DataFrame pins its snapshot: MVCC across later commits") {
    val cat = freshCatalog("mvcc2")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a','1'), ('b','1')")
    val df = spark.sql(s"SELECT * FROM $cat.db.t") // resolution pins the snapshot
    assert(df.count() == 2)
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('c','2')")
    assert(df.count() == 2, "a resolved plan must keep reading its pinned snapshot")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 3, "fresh resolution sees the commit")
  }

  test("lake tables report statistics: a tiny dim broadcasts in a statically-planned join") {
    val cat = freshCatalog("stats")
    spark.sql(s"""CREATE TABLE $cat.db.dim (k BIGINT, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.db.dim VALUES " +
      (0 until 100).map(i => s"($i,'v$i')").mkString(","))
    // snapshot-derived size/rows reach Catalyst (pre-fix: defaultSizeInBytes
    // = Long.MaxValue, so no lake table could ever statically broadcast)
    val size = spark.sql(s"SELECT * FROM $cat.db.dim").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 10L * 1024 * 1024, s"true table size must reach Catalyst, got $size")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static planning only
    try {
      spark.range(0, 100000).createOrReplaceTempView("big_stats")
      val plan = spark.sql(s"SELECT count(*) FROM big_stats b JOIN $cat.db.dim d ON b.id = d.k")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "the 100-row dim must broadcast without AQE's runtime rescue:\n" + plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("catalog scans prune columns and push filters into the lake's parquet scan") {
    val cat = freshCatalog("prune")
    spark.sql(s"""CREATE TABLE $cat.db.t (repo STRING, path STRING, content STRING)
                  TBLPROPERTIES ('primary_key'='repo,path', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('r1','a','x1'), ('r1','b','x2'), ('r2','c','x3')")
    // correctness through the pruned+filtered keyed scan
    val got = spark.sql(s"SELECT path FROM $cat.db.t WHERE repo = 'r1' ORDER BY path")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "b"))
    // the same projection+predicate on the lake DataFrame API reaches its
    // parquet scan as PushedFilters + a pruned ReadSchema
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    val inner = LakeTable.load(spark, root, "t").read()
      .filter(col("repo") === "r1").select("path")
      .queryExecution.executedPlan.toString
    assert(inner.contains("PushedFilters: [IsNotNull(repo), EqualTo(repo,r1)]"), inner)
    assert(inner.contains("ReadSchema: struct<repo:string,path:string>"), inner)
  }

  test("t.changes_since_<v> surfaces the CDC-out feed; folded feeds refuse at scan time") {
    val cat = freshCatalog("feed")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    val t = LakeTable.load(spark, root, "t")
    val engine = new ReplayEngine(t, t.snapshot.registry, mode = MergeMode.MoR)
    import spark.implicits._
    engine.applyEpoch(Seq((1L, "U", "a", "v1"), (2L, "U", "b", "v1"))
      .toDF("lsn", "op", "k", "v"), 0)
    val mark = t.snapshot.version
    engine.applyEpoch(Seq((3L, "U", "a", "v2"), (4L, "D", "b", ""))
      .toDF("lsn", "op", "k", "v"), 1)
    val feed = spark.sql(
      s"SELECT lsn, op, k FROM $cat.db.t.changes_since_$mark ORDER BY lsn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(feed == Seq((3L, "U", "a"), (4L, "D", "b")),
      s"the SQL feed must carry epoch 1's winners incl. the tombstone: $feed")
    // MVCC pin: a relation resolved BEFORE a later commit scans the snapshot
    // it resolved against — epoch 2's row must not leak into it, while an
    // unpinned re-resolution sees all three
    val pinned = spark.sql(s"SELECT lsn FROM $cat.db.t.changes_since_$mark")
    engine.applyEpoch(Seq((5L, "U", "c", "v1")).toDF("lsn", "op", "k", "v"), 2)
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L),
      "resolved feed must stay pinned to its resolution-time snapshot")
    assert(spark.sql(s"SELECT lsn FROM $cat.db.t.changes_since_$mark").count() == 3)
    // compaction folds the post-mark deltas: the SQL read must now refuse
    t.compactDeltas()
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.t.changes_since_$mark").collect()
    }
    assert(e.getMessage.contains("no longer available") ||
      Option(e.getCause).exists(_.getMessage.contains("no longer available")), e.getMessage)
  }

  test("SQL change feed prunes delta FILES by pushed lsn/op predicates") {
    val cat = freshCatalog("feedprune")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='2')""")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t"
    val t = LakeTable.load(spark, root, "t")
    val engine = new ReplayEngine(t, t.snapshot.registry, mode = MergeMode.MoR)
    import spark.implicits._
    val mark = t.snapshot.version
    // three epochs with disjoint lsn ranges -> >= 3 delta files in the feed
    engine.applyEpoch(Seq((1L, "U", "a", "v1"), (2L, "U", "b", "v1"))
      .toDF("lsn", "op", "k", "v"), 0)
    engine.applyEpoch(Seq((3L, "U", "a", "v2"), (4L, "U", "c", "v1"))
      .toDF("lsn", "op", "k", "v"), 1)
    engine.applyEpoch(Seq((5L, "U", "b", "v2"), (6L, "D", "c", ""))
      .toDF("lsn", "op", "k", "v"), 2)
    // narrow tail: only epoch 2's delta files may match lsn >= 5
    val tail = spark.sql(
      s"SELECT lsn, op, k FROM $cat.db.t.changes_since_$mark WHERE lsn >= 5 ORDER BY lsn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(tail == Seq((5L, "U", "b"), (6L, "D", "c")), s"got $tail")
    val (read, total) = graft.cdc.skipping.ScanStats.lastFeed.get().get
    assert(total >= 3, s"fixture must produce several delta files, got $total")
    assert(read < total && read >= 1,
      s"lsn >= 5 must prune earlier epochs' delta files: read $read of $total")
    // op discriminator: only files whose footer op-bounds admit 'D' are read
    val dels = spark.sql(
      s"SELECT lsn, k FROM $cat.db.t.changes_since_$mark WHERE op = 'D'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dels == Seq((6L, "c")), s"got $dels")
    val (readD, totalD) = graft.cdc.skipping.ScanStats.lastFeed.get().get
    assert(readD < totalD,
      s"op = 'D' must prune all-update delta files: read $readD of $totalD")
    // an unfiltered read still sees everything (pruning is I/O elision only)
    assert(spark.sql(s"SELECT lsn FROM $cat.db.t.changes_since_$mark").count() == 6)
  }

  test("q39e end-to-end: partial-SET merge equals the relational oracle") {
    val got = ops.cdcq.sqlMergePartialSet(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val expect = ev.groupBy("user_id")
      .agg(max_by(struct(col("event_type"), col("value")), col("event_id")).as("e"),
        max("value").as("maxv"))
      .select(col("user_id"),
        when(col("maxv") >= 220.0, concat(col("e.event_type"), lit(":hot")))
          .otherwise(col("e.event_type")).as("et"),
        when(col("maxv") >= 220.0, col("e.value") + col("maxv"))
          .otherwise(col("e.value")).as("v"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.nonEmpty && got == expect,
      s"partial-SET merge must match (got ${got.size}, expect ${expect.size})")
    assert(got.exists(_._2.endsWith(":hot")) && got.exists(!_._2.endsWith(":hot")),
      "fixture must exercise both the passing and the untouched branch")
  }

  test("q43 end-to-end: skipping scan plans one bucket and matches the relational oracle") {
    val got = ops.cdcq.skippingScan(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val t = ev.groupBy("user_id")
      .agg(max_by(struct(col("event_type"), col("event_id")), col("event_id")).as("e"))
      .filter(col("e.event_type") =!= "error")
      .select(concat(lit("r"), (col("user_id") % 50).cast("string")).as("repo"),
        concat(lit("p/"), col("user_id").cast("string")).as("path"),
        col("e.event_id").cast("string").as("commit_id"))
    val expect = t.filter(col("repo") === "r7" && col("path") === "p/7")
      .select(lit("point").as("q"), col("repo"), col("path"), col("commit_id"))
      .unionByName(t.filter(col("repo").isin("r1", "r2", "r3") &&
          col("path").isin("p/1", "p/2", "p/3"))
        .select(lit("multi").as("q"), col("repo"), col("path"), col("commit_id")))
      .orderBy("q", "repo", "path")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got.map(x => (x._1, x._2, x._3)) == expect, s"got $got expect $expect")
    assert(got.nonEmpty, "fixture must hit at least one live key")
  }

  test("q39 end-to-end: SQL MERGE replay equals the engine replay") {
    val sqlState = ops.cdcq.sqlMerge(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val apiState = ops.cdcq.replay(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(sqlState.nonEmpty && sqlState == apiState,
      s"SQL surface and engine API must converge (sql=${sqlState.size}, api=${apiState.size})")
    val tt = ops.cdcq.sqlTimeTravel(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tt("v_final") == sqlState.size.toLong)
    // exact mid-state oracle: latest-per-key non-delete among the first half
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val half = (ev.agg(max("event_id")).collect()(0).getLong(0) + 2) / 2
    val expectedMid = ev.filter(col("event_id") < half)
      .groupBy("user_id").agg(max_by(col("event_type"), col("event_id")).as("t"))
      .filter(col("t") =!= "error").count()
    assert(tt("v_mid") == expectedMid, s"v_mid ${tt("v_mid")} != oracle $expectedMid")
  }
}
