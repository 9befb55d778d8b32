package graft

/** Guards the driver's smoke contract: entry() on sf0.001 returns rows. */
class EntrySpec extends SparkSpec {
  test("flagship entry query returns non-empty per-language stats") {
    val out = SparkEntry.entry(spark)
    assert(out.columns.toSeq ==
      Seq("lang", "n_docs", "avg_words", "avg_chars"))
    val n = out.count()
    assert(n > 0 && n <= 10)
  }

  test("select: no names is the full suite; an unknown name throws and is named") {
    assert(SparkEntry.select(Nil) eq SparkEntry.queries)
    assert(SparkEntry.select(Seq("q5_topk")).keySet == Set("q5_topk"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q5_topk", "q5_topkk", "nope")))
    assert(e.getMessage.contains("q5_topkk, nope"), e.getMessage)
  }

  test("Harness.run: a throw reads -1 and is scrubbed; a real run splits its wall") {
    val failed = Harness.run(spark, "/root/testdata/sf0.001", "throws", (s, _) => {
      s.range(10).rdd.persist().count()
      throw new IllegalStateException("boom")
    })
    assert(failed.wall == -1.0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val r = Harness.run(spark, "/root/testdata/sf0.001", "s19_incremental_listing",
      SparkEntry.queries("s19_incremental_listing"))
    assert(r.wall > 0 && r.plan >= 0 && r.exec >= 0 && r.plan + r.exec <= r.wall + 1e-9, r)
    assert(r.m.jobs >= 1, r)
  }

  test("bench mins line stays tail-safe at 220 queries (and beyond)") {
    // The driver keeps only the last ~2000 chars of stdout and parses
    // the FINAL line; the mins line sits directly above it, so their
    // combined length must stay under the tail at any suite size. Pin
    // the self-bounding encoder at 220 synthetic queries with
    // realistic ids/timings, and at the real suite's names.
    def fake(n: Int): Seq[(String, Double)] =
      (0 until n).map(i => (s"tq${i}_some_long_query_name", i * 0.137))
    val at220 = Bench.minsLine(fake(220))
    assert(at220.length < 1800, s"len=${at220.length}")
    assert(at220.contains("\"fmt\":\"csv\""), at220.take(80))
    // suite is 207 at r12 end and grows ~15/round — pin two rounds out
    val at280 = Bench.minsLine(fake(280))
    assert(at280.length < 1800, s"len=${at280.length}")
    // small suites keep the self-describing packed pairs
    val at100 = Bench.minsLine(fake(100))
    assert(at100.contains("\"fmt\":\"packed\"") && at100.length < 1750)
    // the real suite, whatever its current size
    val real = Bench.minsLine(
      SparkEntry.queries.keys.toSeq.map(k => (k, 5.0)))
    assert(real.length < 1800, s"len=${real.length}")
    // short ids must be unique or the packed/csv keying is ambiguous
    val shorts = SparkEntry.queries.keys.toSeq.map(Bench.short)
    assert(shorts.distinct.size == shorts.size, "short ids must be unique")
  }

  test("bench mem line respects its budget and leads with evictions") {
    def fakeMem(n: Int): Seq[(String, Seq[(Long, Long, Long)], Seq[Double])] =
      (0 until n).map { i =>
        (s"tq${i}_long_name",
          Seq((i.toLong * 7, if (i % 50 == 3) 4L else 0L, 2L),
              (i.toLong * 9, 0L, 2L)),
          Seq(1.25, 4.87))
      }
    // any budget: the payload + header must fit, the cut count is named
    Seq(120, 220, 400, 2000).foreach { b =>
      val line = Bench.memLine(fakeMem(280), b)
      assert(line.length <= b, s"budget $b -> len ${line.length}")
      assert(line.startsWith("""{"metric":"mem""""))
      if (line.length > 95) { // entries present: eviction queries lead
        // load belongs to the rep that produced the evidence: the
        // evictions happened on rep 0 (load 1.25) even though rep 1
        // was hotter (4.87) — evicting entries must carry 1.2, not 4.8
        assert(line.contains(":4:1.2"),
          s"evicting query (with its rep's load) not front-ranked " +
            s"at budget $b: ${line.take(120)}")
      }
      if (b >= 2000) {
        // big budget: tq3 itself fits, and non-evicting entries report
        // the max-PEAK rep's load (rep 1, 4.87 → 4.8)
        assert(line.contains("tq3:27:4:1.2"), line.take(200))
        assert(line.contains(":4.8"), "non-evictor load missing")
      }
    }
    // a budget too small for even the header yields NO line (ADVICE
    // r17: the header alone would blow the driver's tail window)
    assert(Bench.memLine(fakeMem(280), 60).isEmpty)
    assert(Bench.memLine(fakeMem(280), -40).isEmpty)
    // the slow field (r17 verdict #5: top-3 mins' id:runS:cpuS task
    // seconds) rides INSIDE the header, so the exact budget accounting
    // covers it: present when given, line still within budget, and a
    // budget the longer header can't fit still yields no line
    val slow = "d4:76.6:45.1,d22:71.2:44.5,v20:12.3:9.9"
    val withSlow = Bench.memLine(fakeMem(280), 400, slow)
    assert(withSlow.length <= 400, s"len=${withSlow.length}")
    assert(withSlow.contains(s""""slow":"$slow""""), withSlow.take(160))
    assert(Bench.memLine(fakeMem(280), 100, slow).isEmpty)
    // json-parseable with and without the field
    assert(withSlow.contains(""","q":""""))
    // worst-case three-line tail: mem (at its computed budget) + mins +
    // total must fit the driver's 2000-char window at the REAL suite
    val minsStr = Bench.minsLine(
      SparkEntry.queries.keys.toSeq.map(k => (k, 5.0)))
    val totalLen = 250 // generous stand-in for the totals line (+load)
    val budget = 2000 - minsStr.length - totalLen - 8
    val mem = Bench.memLine(
      SparkEntry.queries.keys.toSeq.map(k =>
        (k, Seq((512L, 1L, 3L)), Seq(3.14))),
      budget)
    assert(mem.length + minsStr.length + totalLen + 8 <= 2000,
      s"tail overflow: mem=${mem.length} mins=${minsStr.length}")
  }

  test("tq9 tertile law: per-lang bucket sizes within 1, rank-monotone") {
    val out = SparkEntry.queries("tq9_ccnet_ppl_buckets")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val n = rows.length
      def qs(b: String): Array[Long] =
        rows.filter(_.getAs[String]("bucket") == b)
          .map(_.getAs[Long]("avg_q"))
      val sizes = Seq("head", "middle", "tail").map(qs(_).length)
      assert(sizes.sum == n, s"$lang: buckets don't partition")
      if (n >= 3)
        assert(sizes.max - sizes.min <= 1, s"$lang: sizes=$sizes")
      // perplexity ordering across the cut points (ties allowed: the
      // rank breaks them by doc_id, so boundary avg_q may repeat)
      if (qs("head").nonEmpty && qs("middle").nonEmpty)
        assert(qs("head").max <= qs("middle").min, s"$lang: head>middle")
      if (qs("middle").nonEmpty && qs("tail").nonEmpty)
        assert(qs("middle").max <= qs("tail").min, s"$lang: middle>tail")
    }
  }

  test("x13 span-corruption law: pair reconstructs the token stream") {
    val out = SparkEntry.queries("x13_span_corruption")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    def toks(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(" ").toSeq
    var sawSpan = false
    out.foreach { r =>
      val (n, spans, masked) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_masked"))
      val corr = toks(r.getAs[String]("corrupted"))
      val tgt = toks(r.getAs[String]("targets"))
      val sent = "<extra_id_\\d+>".r
      val corrSent = corr.filter(sent.matches(_))
      val tgtSent = tgt.filter(sent.matches(_))
      // one sentinel per span on each side, numbered 0..spans-1 in order
      assert(corrSent.size == spans && tgtSent.size == spans)
      assert(corrSent == (0L until spans).map(k => s"<extra_id_$k>"))
      assert(corrSent == tgtSent)
      // non-sentinel tokens split exactly: kept + masked == n
      assert((corr.size - spans) + (tgt.size - spans) == n)
      assert(tgt.size - spans == masked)
      assert(masked >= spans && masked <= 2 * spans)
      if (spans > 0) sawSpan = true
    }
    assert(sawSpan, "no doc produced a span — stride too wide?")
  }

  test("ta24 collocation law: support floor, containment, sorted keys") {
    val out = SparkEntry.queries("ta24_collocations")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val keys = out.map(_.getAs[Long]("pmi_q20")).toSeq
    assert(keys == keys.sorted.reverse, "not pmi-descending")
    out.foreach { r =>
      val (cab, ca, cb) = (r.getAs[Long]("cab"), r.getAs[Long]("ca"),
        r.getAs[Long]("cb"))
      assert(cab >= 5L)
      assert(cab <= ca && cab <= cb,
        "a bigram cannot outnumber its unigrams")
    }
  }

  test("x14 FIM law: PSM reorder reconstructs the original stream") {
    val out = SparkEntry.queries("x14_fim_split")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getAs[Boolean]("is_fim")), "no FIM rows")
    out.filter(_.getAs[Boolean]("is_fim")).foreach { r =>
      val psm = r.getAs[String]("psm")
      val (n, ms, ml) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("m_start"), r.getAs[Long]("m_len"))
      assert(psm.startsWith("<PRE> "), psm.take(20))
      val body = psm.stripPrefix("<PRE> ")
      val Array(pre, rest) = body.split(" <SUF> ", 2)
      val Array(suf, mid) = rest.split(" <MID> ", 2)
      def tk(s: String) = if (s.isEmpty) Nil else s.split(" ").toSeq
      assert(tk(pre).size == ms, s"prefix len: $psm")
      assert(tk(mid).size == ml, s"middle len: $psm")
      assert(tk(pre).size + tk(mid).size + tk(suf).size == n,
        "P+M+S must partition the stream")
      assert(ms + ml <= n, "middle must fit")
    }
  }

  test("tq11 gains law: deciles partition, capture monotone to 100%") {
    val out = SparkEntry.queries("tq11_decile_lift")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 10)
    val caps = out.map(_.getAs[Long]("capture_micro")).toSeq
    assert(caps == caps.sorted, "capture must be non-decreasing")
    assert(caps.last == 1000000L, "last decile must capture everything")
    val nPos = out.map(_.getAs[Long]("n_pos")).sum
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    assert(nPos > 0 && nDocs > nPos, "degenerate label split")
    out.foreach { r =>
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_docs"))
    }
  }

  test("x17 CUSUM law: window identity equals the clamped recursion") {
    // the query computes S via S_t = P_t − min(0, min_{j≤t} P_j);
    // replay the textbook max(0, S + d) recursion from the output's
    // own daily means and demand bit-equality, plus the S ≥ 0 floor
    val out = SparkEntry.queries("x17_cusum_alarm")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val rows = rs.sortBy(_.getAs[Long]("day_us"))
      val means = rows.map(_.getAs[Long]("mean_micro"))
      val head = means.take(7)
      val mu0 = head.sum / head.length
      val k = mu0 / 20
      var shi = 0L
      var slo = 0L
      rows.zip(means).foreach { case (r, m) =>
        shi = math.max(0L, shi + (m - mu0 - k))
        slo = math.max(0L, slo + (mu0 - k - m))
        assert(r.getAs[Long]("s_hi") == shi, s"s_hi at $r")
        assert(r.getAs[Long]("s_lo") == slo, s"s_lo at $r")
        assert(r.getAs[Boolean]("alarm_hi") == (shi >= mu0))
        assert(r.getAs[Boolean]("alarm_lo") == (slo >= mu0))
      }
    }
  }

  test("w11 retention law: k=0 is the full cohort; cells never exceed it") {
    val out = SparkEntry.queries("w11_retention_cohorts")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("cohort_us")).foreach { case (c, rs) =>
      val k0 = rs.find(_.getAs[Long]("k") == 0L)
      assert(k0.isDefined, s"cohort $c missing its day-0 row")
      assert(k0.get.getAs[Long]("n_active") == k0.get.getAs[Long]("n_cohort"))
      assert(k0.get.getAs[Long]("rate_micro") == 1000000L)
      rs.foreach { r =>
        assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_cohort"))
        assert(r.getAs[Long]("k") >= 0L)
      }
    }
  }

  test("type-pin law: every query output column is a driver-safe scalar") {
    // The driver's result hash is dtype-sensitive: an output column the
    // oracle types HUGEINT (uncast windowed SUM) or DECIMAL (bare
    // decimal-literal arithmetic) hash-mismatches a value-identical
    // Spark column — the 5-round x5 flake class (r13 verdict). Pin the
    // Spark side here to the scalar set the driver serializes stably;
    // tools/check.py pins the DuckDB side (type_class FAIL on
    // HUGEINT/DECIMAL) every gate run. Nested types (array/struct/map)
    // are deliberately OUTSIDE `ok`: the driver hash's behavior on them
    // is unpinned, so any future query emitting one fails here until a
    // driver-safe element-type policy is added alongside this law.
    // NOTE: "constructing" a query is not free — lifecycle queries
    // (g8/g10/g11/g16/tc3…) stage scratch parquet or run init/append
    // sequences eagerly inside their builder, so this test executes a
    // real fraction of the suite at sf0.001. Accepted cost: it is the
    // only all-queries schema sweep, and sf0.001 keeps it bounded.
    import org.apache.spark.sql.types._
    val ok: Set[DataType] = Set(LongType, IntegerType, DoubleType,
      StringType, BooleanType, DateType, TimestampType)
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        q(spark, "/root/testdata/sf0.001").schema.fields.collect {
          case f if !ok.contains(f.dataType) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(bad.isEmpty, s"non-scalar/driver-unsafe output columns: $bad")
  }

  test("c9 takedown law: removal is cluster-atomic") {
    val out = SparkEntry.queries("c9_takedown_closure")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getAs[String]("status") == "direct"),
      "notice sample came up empty — raise the rate or check keyHash")
    out.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      val st = rows.map(_.getAs[String]("status")).toSet
      if (st.contains("direct"))
        assert(!st.contains("kept"),
          s"cluster $cid kept a member despite a direct notice")
      else
        assert(st == Set("kept"),
          s"cluster $cid removed members without any notice")
    }
  }
}
