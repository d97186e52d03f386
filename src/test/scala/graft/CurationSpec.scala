package graft

import org.apache.spark.sql.functions._

/** Round-3 curation operators: MERGE upsert semantics (ops.Merge),
  * repetition signals, redaction, frame sampling, and date-spine gap
  * fill on crafted inputs (the oracle gate covers the harness tables;
  * these tests pin the EDGE semantics the generated data can't reach).
  */
class CurationSpec extends SparkSuite {
  import spark.implicits._

  test("Merge.upsert: D deletes (matched or not), non-D upserts, absent keys pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val changes = Seq(
      (2L, "D", null.asInstanceOf[java.lang.Double]), // delete existing
      (9L, "D", java.lang.Double.valueOf(99.0)),      // delete absent key: no-op
      (3L, "U", java.lang.Double.valueOf(33.0)),      // update
      (4L, "I", java.lang.Double.valueOf(40.0)))      // insert
      .toDF("k", "op", "v")
    val out = graft.ops.Merge.upsert(base, changes, "k", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (3L, "c", 33.0), (4L, null, 40.0)))
  }

  test("Merge validates its inputs: misnamed key/op and reserved sentinel fail fast by name") {
    val base = Seq((1L, 10.0)).toDF("k", "v")
    val changes = Seq((1L, "U", 11.0)).toDF("k", "op", "v")
    for (entry <- Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String) => org.apache.spark.sql.DataFrame](
      graft.ops.Merge.upsert(_, _, _, _),
      graft.ops.Merge.upsertSmallChanges(_, _, _, _))) {
      val eKey = intercept[IllegalArgumentException](entry(base, changes, "key_typo", "op"))
      assert(eKey.getMessage.contains("key_typo") && eKey.getMessage.contains("base"))
      val eCKey = intercept[IllegalArgumentException](
        entry(base, changes.withColumnRenamed("k", "id"), "k", "op"))
      assert(eCKey.getMessage.contains("'k'") && eCKey.getMessage.contains("changes"))
      val eOp = intercept[IllegalArgumentException](entry(base, changes, "k", "operation"))
      assert(eOp.getMessage.contains("operation") && eOp.getMessage.contains("changes"))
      val eSentinel = intercept[IllegalArgumentException](
        entry(base, changes.withColumn("__graft_change_present", lit(true)), "k", "op"))
      assert(eSentinel.getMessage.contains("reserved"), eSentinel.getMessage)
    }
  }

  test("Merge resolves names like the analyzer: case-insensitive by default, exact under caseSensitive") {
    // Spark's default resolution (spark.sql.caseSensitive=false) accepts
    // upsert(df, ch, "K", ...) against a column named 'k' — validation
    // must not be stricter than the analyzer it fronts for.
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val changes = Seq((2L, "B", "U"), (3L, "c", "U")).toDF("K", "V", "OP")
    for (entry <- Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String) => org.apache.spark.sql.DataFrame](
      graft.ops.Merge.upsert(_, _, _, _),
      graft.ops.Merge.upsertSmallChanges(_, _, _, _))) {
      val out = entry(base, changes, "K", "op")
        .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")),
        "case-mismatched key/op/value columns must merge like exact-cased ones")
    }
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val e = intercept[IllegalArgumentException](
        graft.ops.Merge.upsert(base, changes, "K", "op"))
      assert(e.getMessage.contains("'K'") && e.getMessage.contains("base"),
        e.getMessage)
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("Merge value-column matching is locale-independent (Turkish-I default locale)") {
    // changeColMatcher folds with Locale.ROOT: under a tr default
    // locale the JVM's plain toLowerCase turns base column 'ID' into
    // "ıd" (dotless ı), the membership test against changes' 'id'
    // misses, and the change's value is silently ignored — the stale
    // base value survives an update that should have replaced it.
    val base = Seq((1L, "stale")).toDF("k", "ID")
    val changes = Seq((1L, "fresh", "U")).toDF("k", "id", "op")
    val prev = java.util.Locale.getDefault
    // the matcher runs at plan-construction time inside upsert(); only
    // that window needs the hostile locale, collect() runs restored
    val plans =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
        Seq(graft.ops.Merge.upsert(base, changes, "k", "op"),
            graft.ops.Merge.upsertSmallChanges(base, changes, "k", "op"))
      } finally java.util.Locale.setDefault(prev)
    for (df <- plans) {
      val out = df.collect().map(r => (r.getLong(0), r.getString(1)))
      assert(out.toSeq == Seq((1L, "fresh")),
        "change value column must match base 'ID' regardless of default locale")
    }
  }

  test("Merge: a NULL merge key in changes fails every variant loudly instead of duplicating on redelivery") {
    // null-unsafe joins never match a null key: the row would append a
    // fresh duplicate on EVERY at-least-once delivery, silently
    // breaking one-row-per-key. The guard rides inside the key column
    // (like upsertVersioned's version check) so pruning can't drop it.
    val base = Seq((1L, "a", 10.0)).toDF("k", "name", "v")
    val changes = Seq(
      (java.lang.Long.valueOf(2L), "U", "b", 20.0),
      (null.asInstanceOf[java.lang.Long], "U", "x", 99.0))
      .toDF("k", "op", "name", "v")
    def loud(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
      assert(m.contains("null merge key"), m)
    }
    loud(graft.ops.Merge.upsert(base, changes, "k", "op").collect())
    loud(graft.ops.Merge.upsertSmallChanges(base, changes, "k", "op").collect())
    // a shuffled input: over a bare local relation the optimizer would
    // evaluate the guard eagerly in ANY branch, proving nothing about
    // the full-image branch that keeps the row
    loud(graft.ops.Merge.upsertSmallChanges(base, changes.repartition(2), "k", "op",
      partialImages = false).collect())
    val vbase = Seq((1L, "a", "0/10")).toDF("k", "name", "lsn")
    val vchanges = Seq(
      (java.lang.Long.valueOf(2L), "b", "0/20"),
      (null.asInstanceOf[java.lang.Long], "x", "0/30"))
      .toDF("k", "name", "lsn")
    loud(graft.ops.Merge.upsertVersioned(vbase, vchanges, "k", "lsn").collect())
    // non-null keys still merge fine through the guard
    val ok = graft.ops.Merge.upsert(base,
      Seq((2L, "U", "b", 20.0)).toDF("k", "op", "name", "v"), "k", "op")
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(ok == Seq(1L, 2L))
  }

  test("Merge.upsertVersioned: higher version wins whole-row, equal/lower keeps the base") {
    val base = Seq((1L, 10L, "v10"), (2L, 20L, "v20"), (3L, 30L, "v30"))
      .toDF("k", "ver", "payload")
    val changes = Seq(
      (1L, 11L, "v11"),  // newer -> wins
      (2L, 20L, "dup"),  // equal (duplicated delivery) -> base survives
      (3L, 5L, "stale"), // older (out-of-order replay) -> base survives
      (4L, 1L, "new"))   // unseen key -> inserted
      .toDF("k", "ver", "payload")
    val out = graft.ops.Merge.upsertVersioned(base, changes, "k", "ver")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 11L, "v11"), (2L, 20L, "v20"), (3L, 30L, "v30"), (4L, 1L, "new")))
  }

  test("Merge.upsertVersioned: a tombstone blocks resurrection by a late older update") {
    // deletes are rows in CAS mode: op='D' at the delete's version. A
    // replayed UPDATE with a lower version must not bring the key back.
    val base = Seq((1L, 10L, "D", null.asInstanceOf[String])).toDF("k", "ver", "op", "v")
    val lateOlder = Seq((1L, 7L, "U", "zombie")).toDF("k", "ver", "op", "v")
    val out = graft.ops.Merge.upsertVersioned(base, lateOlder, "k", "ver").collect()
    assert(out.length == 1 && out.head.getString(2) == "D" && out.head.isNullAt(3),
      "the tombstone must survive an older update")
    // ...but a NEWER insert legitimately revives it (delete-then-reinsert)
    val reinsert = Seq((1L, 12L, "U", "back")).toDF("k", "ver", "op", "v")
    val out2 = graft.ops.Merge.upsertVersioned(base, reinsert, "k", "ver").collect()
    assert(out2.length == 1 && out2.head.getString(2) == "U" && out2.head.getString(3) == "back")
  }

  test("Merge.upsertVersioned rejects mismatched column sets by name") {
    val base = Seq((1L, 10L, "a")).toDF("k", "ver", "v")
    val extra = Seq((1L, 11L, "b", "x")).toDF("k", "ver", "v", "w")
    val e = intercept[IllegalArgumentException](
      graft.ops.Merge.upsertVersioned(base, extra, "k", "ver"))
    assert(e.getMessage.contains("identical columns"), e.getMessage)
    val noVer = Seq((1L, "b")).toDF("k", "v")
    val e2 = intercept[IllegalArgumentException](
      graft.ops.Merge.upsertVersioned(base, noVer, "k", "ver"))
    assert(e2.getMessage.contains("version column") && e2.getMessage.contains("changes"),
      e2.getMessage)
  }

  test("Merge.upsert: NULL change value means 'not provided' and keeps the base value") {
    val base = Seq((1L, "a", 10.0)).toDF("k", "name", "v")
    val changes = Seq((1L, "U", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "op", "v")
    val out = graft.ops.Merge.upsert(base, changes, "k", "op").collect()
    assert(out.head.getDouble(2) == 10.0, "partial image must not clobber base with null")
    assert(out.head.getString(1) == "a", "columns absent from changes pass through")
  }

  test("Merge.upsert full-image mode: a change's NULL is a real NULL and clears the base value") {
    val base = Seq((1L, "a", java.lang.Double.valueOf(10.0)),
      (2L, "b", java.lang.Double.valueOf(20.0))).toDF("k", "name", "v")
    val changes = Seq((1L, "U", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "op", "v")
    val out = graft.ops.Merge.upsert(base, changes, "k", "op", partialImages = false)
      .orderBy("k").collect()
    assert(out(0).isNullAt(2), "full-image update setting NULL must clear, not resurrect")
    assert(out(1).getDouble(2) == 20.0, "untouched keys keep base values")
  }

  test("Merge.upsert: a NULL op is 'anything else' — upserts identically in both image modes") {
    val base = Seq((1L, "a", java.lang.Double.valueOf(10.0))).toDF("k", "name", "v")
    val changes = Seq(
      (1L, null.asInstanceOf[String], java.lang.Double.valueOf(11.0)), // present key
      (5L, null.asInstanceOf[String], java.lang.Double.valueOf(50.0))) // absent key
      .toDF("k", "op", "v")
    for (partial <- Seq(true, false)) {
      val out = graft.ops.Merge.upsert(base, changes, "k", "op", partialImages = partial)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(out.toSeq == Seq((1L, 11.0), (5L, 50.0)),
        s"partialImages=$partial: NULL op must upsert, not drop or blank the row")
    }
  }

  test("Merge.upsertSmallChanges: row-identical to the full-outer upsert on every edge case") {
    val base = Seq((1L, "a", java.lang.Double.valueOf(10.0)),
      (2L, "b", java.lang.Double.valueOf(20.0)),
      (3L, "c", java.lang.Double.valueOf(30.0))).toDF("k", "name", "v")
    val changes = Seq(
      (2L, "D", null.asInstanceOf[java.lang.Double]),  // delete existing
      (9L, "D", java.lang.Double.valueOf(99.0)),       // delete absent: no-op
      (3L, "U", null.asInstanceOf[java.lang.Double]),  // update with NULL value
      (4L, "I", java.lang.Double.valueOf(40.0)),       // insert
      (5L, null.asInstanceOf[String], java.lang.Double.valueOf(50.0))) // NULL op: upsert
      .toDF("k", "op", "v")
    // the same edge cases carrying EVERY base column: with full images
    // this takes the single-scan shape (no matched join); the set above
    // lacks `name`, so it keeps pinning the join shape
    val fullChanges = Seq(
      (2L, "D", null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]),
      (9L, "D", "z", java.lang.Double.valueOf(99.0)),
      (3L, "U", null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]),
      (4L, "I", "d", java.lang.Double.valueOf(40.0)),
      (5L, null.asInstanceOf[String], "e", java.lang.Double.valueOf(50.0)))
      .toDF("k", "op", "name", "v")
    for ((label, ch) <- Seq("partial columns" -> changes, "every column" -> fullChanges);
         partial <- Seq(true, false)) {
      val a = graft.ops.Merge.upsert(base, ch, "k", "op", partial)
      val b = graft.ops.Merge.upsertSmallChanges(base, ch, "k", "op", partial)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$label, partialImages=$partial: broadcast path diverged from full-outer path")
      // nullability may differ (full outer marks the key nullable; the
      // broadcast path's inner/anti joins keep it non-null) — names and
      // types must not
      assert(a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)),
        s"$label, partialImages=$partial: schema drift")
      // the analyzed plan: a persisted matched join shows there as a
      // join (the cache substitution happens later)
      val innerJoins = b.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      }
      assert(innerJoins.isEmpty == (label == "every column" && !partial),
        s"$label, partialImages=$partial: only full images skip the matched join")
    }
  }

  test("m2 contributes zero frames for an empty document instead of failing") {
    val dir = writeDocs(Seq((1L, "en", ""), (2L, "en", "abcd")))
    val frames = SparkEntry.queries("m2_frame_sample")(spark, dir).collect()
    assert(frames.map(_.getLong(0)).toSeq == Seq(2L), "empty doc yields no frames, others unaffected")
  }

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cur").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("p18 flags a degenerate looping doc and passes diverse text") {
    val dir = writeDocs(Seq(
      (1L, "en", "spam spam spam spam spam spam spam spam"), // all-one-token
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta"))) // all distinct
    val r = SparkEntry.queries("p18_repetition_signals")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(r(1L) == 1, "repeated-token doc must be flagged")
    assert(r(2L) == 0, "diverse doc must pass")
    val fracs = SparkEntry.queries("p18_repetition_signals")(spark, dir)
      .filter(col("doc_id") === 1L).head()
    assert(fracs.getDouble(2) == 6.0 / 7.0, "7 bigrams, 1 distinct -> dup frac 6/7")
    assert(fracs.getDouble(3) == 1.0, "every token is the top token")
  }

  test("p19 redacts the URL and email and collapses runs of spaces") {
    val dir = writeDocs(Seq((5L, "en", "hello world")))
    val out = SparkEntry.queries("p19_normalize_redact")(spark, dir).head()
    assert(out.getInt(3) == 1 && out.getInt(4) == 1, "one URL + one email found")
    // reconstruct the expected clean string independently
    val clean = "hello world visit <url> or mail <email> now"
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.getString(5) == expectedMd5,
      s"clean text must normalize to '$clean'")
  }

  test("m2 samples ceil(n_bytes/32) frames per doc and hashes the exact slice") {
    val text = "x" * 70 // 70 bytes -> offsets 1, 33, 65 -> 3 frames
    val dir = writeDocs(Seq((7L, "en", text)))
    val frames = SparkEntry.queries("m2_frame_sample")(spark, dir).collect()
    assert(frames.length == 3)
    assert(frames.map(_.getInt(2)).toSeq == Seq(1, 33, 65))
    val lastSha = frames.last.getString(3)
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.substring(64).getBytes("UTF-8")) // offset 65, only 6 bytes left
      .map("%02x".format(_)).mkString
    assert(lastSha == expect, "tail frame hashes only the remaining bytes")
  }

  test("Merge.upsertVersioned pre-reduces a multi-version batch to its last image per key") {
    // The natural input for an out-of-order transport is a batch
    // carrying a key's whole update chain — each row must NOT become an
    // output row (the pre-r9 behavior); the chain collapses to its
    // highest-version image before the CAS.
    val base = Seq((1L, 10L, "v10")).toDF("k", "ver", "payload")
    val changes = Seq(
      (1L, 11L, "v11"), (1L, 13L, "v13"), (1L, 12L, "v12"), // chain, shuffled order
      (2L, 3L, "new"), (2L, 3L, "new"))                     // duplicated delivery of one row
      .toDF("k", "ver", "payload")
    val out = graft.ops.Merge.upsertVersioned(base, changes, "k", "ver")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 13L, "v13"), (2L, 3L, "new")),
      "one output row per key, carrying the highest-version image")
  }

  test("Merge.upsertVersioned fails loudly on a NULL change version") {
    // NULL would lose every CAS (null-safe-false >) yet still insert
    // for an unseen key — an asymmetry no LSN/offset transport intends.
    val base = Seq((1L, 10L, "x")).toDF("k", "ver", "payload")
    for (changes <- Seq(
        Seq((1L, null.asInstanceOf[java.lang.Long], "y")),   // matched key
        Seq((5L, null.asInstanceOf[java.lang.Long], "y")))) { // unseen key
      val df = changes.toDF("k", "ver", "payload")
      val e = intercept[Throwable](
        graft.ops.Merge.upsertVersioned(base, df, "k", "ver").collect())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("must be non-null"), msgs)
    }
  }

  test("q42 spine reports zero for days with no orders") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spine").toString
    Seq(("1996-01-05", 1.0), ("1996-01-05", 2.0), ("1996-03-31", 3.0))
      .map { case (dt, v) => (java.sql.Date.valueOf(dt), v) }
      .toDF("o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q42_date_spine")(spark, dir).collect()
    assert(out.length == 91, "Jan 1 .. Mar 31 1996 (leap year) = 91 days")
    val m = out.map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(m("1996-01-05") == 2L)
    assert(m("1996-03-31") == 1L)
    assert(m("1996-02-29") == 0L, "gap day (incl. leap day) must be zero-filled")
    assert(out.map(_.getLong(1)).sum == 3L)
  }
}
