package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Operator-family invariants on the reference surface (SURVEY §5.2). */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  test("dsum is exact: decimal routing beats double accumulation drift") {
    val df = Seq.fill(1000)(0.1).toDF("x").repartition(7)
    val got = df.agg(Fns.dsum($"x")).head.getDouble(0)
    assert(got == 100.0) // double-summing 0.1 a thousand times would drift
  }

  test("A6: re-aggregating the daily rollup equals aggregating raw") {
    val rollup = Rollups.daily(spark, sf)
      .agg(sum($"total_value".cast("decimal(38,6)")).cast("double"),
           sum($"tx_count"))
      .head
    val raw = Tables.events(spark, sf)
      .agg(Fns.dsum($"value"), count(lit(1))).head
    assert(rollup.getDouble(0) == raw.getDouble(0))
    assert(rollup.getLong(1) == raw.getLong(1))
  }

  test("A7: histogram bucket counts partition the total row count") {
    val total = Tables.events(spark, sf).count()
    val bucketed = Rollups.histogram(spark, sf)
      .agg(sum($"tx_count")).head.getLong(0)
    assert(bucketed == total)
  }

  test("T4: collapse keeps exactly the latest live version per key") {
    val changelog = Seq(
      (1L, "a", 1L, 1, 10.0), (1L, "a", 3L, 1, 30.0), (1L, "a", 2L, 1, 20.0),
      (2L, "b", 1L, 1, 11.0), (2L, "b", 2L, -1, 0.0), // deleted entity
      (3L, "c", 5L, 1, 50.0)
    ).toDF("user_id", "event_type", "_version", "_sign", "value")
    val out = Collapse.collapse(changelog, Seq("user_id", "event_type"))
      .select("user_id", "_version", "value").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 30.0), (3L, 5L, 50.0)))
  }

  test("T4: collapse is idempotent and input-order insensitive") {
    val changelog = Seq(
      (1L, "a", 1L, 1, 10.0), (1L, "a", 3L, 1, 30.0), (1L, "a", 2L, 1, 20.0))
      .toDF("user_id", "event_type", "_version", "_sign", "value")
    val once = Collapse.collapse(changelog, Seq("user_id", "event_type"))
    val twice = Collapse.collapse(once, Seq("user_id", "event_type"))
    assert(once.collect().toSeq == twice.collect().toSeq)
    val shuffled = Collapse.collapse(changelog.orderBy(rand(7)), Seq("user_id", "event_type"))
    assert(shuffled.select("_version").head.getLong(0) == 3L)
  }

  /** T4+T5 composed: the retraction-aware summing MV. Signed partials
    * must (a) cancel a fully-deleted input to exact zero — an EMPTY
    * read, no decimal residue; (b) be additive under ANY batch split,
    * including one that separates a cancel from its base insert and
    * delivers it first (out-of-order retraction). */
  test("T4+T5: signed summing MV — exact cancellation and split/order invariance") {
    val ev = Tables.events(spark, sf).limit(2000)
    // (a) a changelog of pure cancel pairs nets to nothing
    val allCancelled = Collapse.cancelPairChangelogOf(ev)
      .filter($"event_id" % 21 === 0) // pure deletes: +1 insert and its -1 cancel
    assert(Collapse.readSignedDailyRollup(
      Collapse.signedDailyPartialsOf(allCancelled)).count() == 0,
      "fully-cancelled input must read back empty (exact decimal residue)")
    // (b) arbitrary split + reordered delivery appends to the same rollup
    val changelog = Collapse.cancelPairChangelogOf(ev)
    val whole = Collapse.readSignedDailyRollup(
      Collapse.signedDailyPartialsOf(changelog)).collect().toSeq
    val cancelsFirst = changelog.filter($"_sign" === -1)   // retractions arrive first
    val insertsA = changelog.filter($"_sign" === 1 && $"event_id" % 2 === 0)
    val insertsB = changelog.filter($"_sign" === 1 && $"event_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_signed_mv").toString
    Seq(cancelsFirst, insertsA, insertsB).foreach { b =>
      Collapse.signedDailyPartialsOf(b).write.mode("append").parquet(dir)
    }
    val merged = Collapse.readSignedDailyRollup(
      spark.read.parquet(dir)).collect().toSeq
    assert(merged == whole, "split/ordered appends must merge to the whole answer")
  }

  /** T5: partition-level incremental refresh. Late rows for two days
    * must trigger a recompute of EXACTLY those two day-partitions:
    * untouched partitions keep their files byte-for-byte (same paths,
    * same mtimes), stale ones are rewritten, and the merged read
    * equals the full recompute. */
  test("T5: partition refresh rewrites only the stale day partitions") {
    import graft.ops.Rollups
    val ev = Tables.events(spark, sf)
    val isLate = to_date($"ts").between(
        lit("2024-01-10").cast("date"), lit("2024-01-11").cast("date")) &&
      $"event_id" % 3 === 0
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh_spec")
      .resolve("rollup").toString
    Rollups.writePartitionedDailyRollup(ev.filter(!isLate), dir)
    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing()
    val stale = Rollups.refreshStaleDays(spark, ev, ev.filter(isLate), dir)
    assert(stale.map(_.toString).sorted == Seq("2024-01-10", "2024-01-11"))
    val after = listing()
    def untouched(m: Map[String, Long]) =
      m.filterNot { case (p, _) => stale.exists(d => p.contains(s"day=$d")) }
    assert(untouched(after) == untouched(before),
      "non-stale partitions must not be rewritten")
    assert(after.filter(_._1.contains("day=2024-01-10")) !=
           before.filter(_._1.contains("day=2024-01-10")),
      "the stale partition must have been rewritten")
    assert(Rollups.readPartitionedDailyRollup(spark, dir).collect().toSeq ==
           Rollups.daily(spark, sf).collect().toSeq,
      "targeted refresh must equal the full recompute")
  }

  test("U1: union pivot preserves each role's total volume") {
    val pivot = Pivots.unionPivot(spark, sf)
    val buyers = pivot.filter($"address_type" === "buyer")
      .agg(sum($"volume".cast("decimal(38,6)")).cast("double")).head.getDouble(0)
    val direct = Tables.orders(spark, sf)
      .agg(Fns.dsum($"o_totalprice")).head.getDouble(0)
    assert(buyers == direct)
  }

  test("U2: archive union loses no rows") {
    val n = Tables.events(spark, sf).count()
    val unioned = Pivots.archiveUnion(spark, sf)
      .agg(sum($"n_rows")).head.getLong(0)
    assert(unioned == n)
  }

  test("semi ∪ anti with the same predicate partitions customers") {
    val semiOnBig = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf).filter($"o_totalprice" > 450000),
            $"c_custkey" === $"o_custkey", "left_semi").count()
    val anti = StarJoins.antiJoin(spark, sf).count()
    assert(semiOnBig + anti == Tables.customer(spark, sf).count())
  }

  test("C8: hex roundtrip decodes addresses and amounts losslessly") {
    val decoded = Ingest.decodeTransfers(Ingest.synthesizeLogs(spark, sf))
    val back = decoded
      .withColumn("uid",
        expr("cast(conv(substring(from_address, 3, 40), 16, 10) as bigint)"))
      .select("event_id", "uid", "value_cents")
    val orig = Tables.events(spark, sf)
      .select($"event_id", $"user_id",
              floor($"value" * 100).cast("decimal(38,0)").as("cents"))
    assert(back.join(orig,
      back("event_id") === orig("event_id") &&
      back("uid") === orig("user_id") &&
      back("value_cents") === orig("cents")).count() == orig.count())
  }

  test("C8: router is shape-aware — absent words decode NULL, stray words drop") {
    def topic(i: Int) = "0x" + "0" * 63 + i.toString
    val dataWord = "0" * 62 + "2a" // uint256 42
    val logs = Seq(
      (1L, Ingest.BlacklistedSig, topic(1), null: String, null: String),
      // a zero-FILLED topic2 is a well-formed word but malformed for
      // the one-topic layout: dropped, not decoded as address 0x0
      (2L, Ingest.BlacklistedSig, topic(1), "0x" + "0" * 64, null: String),
      // Transfer missing its data word: malformed, dropped
      (3L, Ingest.TransferSig, topic(3), topic(4), null: String),
      (4L, Ingest.TransferSig, topic(3), topic(4), dataWord),
      // undeclared topic0: no decoder, dropped
      (5L, "0x" + "f" * 64, topic(1), topic(4), dataWord)
    ).toDF("event_id", "topic0", "topic1", "topic2", "data")
    val out = Ingest.decodeAbi(logs)
      .select($"event_id", $"event", $"addr2", $"amount_cents".cast("long"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out.keySet == Set(1L, 4L))
    assert(out(1L)._1 == "Blacklisted" && out(1L)._2.isEmpty && out(1L)._3.isEmpty)
    assert(out(4L)._1 == "Transfer" && out(4L)._2.nonEmpty &&
      out(4L)._3.contains(42L))
  }

  test("C8: Burn and Pause layouts enforce their word shapes") {
    def topic(i: Int) = "0x" + "0" * 63 + i.toString
    val dataWord = "0" * 62 + "2a" // uint256 42
    val logs = Seq(
      // Burn: one topic + data — well-formed
      (1L, Ingest.BurnSig, topic(1), null: String, dataWord),
      // Burn with a stray topic2: malformed for the layout, dropped
      (2L, Ingest.BurnSig, topic(1), topic(2), dataWord),
      // Pause: topic0 only — well-formed, addr1/addr2/amount all NULL
      (3L, Ingest.PauseSig, null: String, null: String, null: String),
      // Pause with a stray topic1: dropped, not decoded as an address
      (4L, Ingest.PauseSig, topic(1), null: String, null: String),
      // Mint rides the Transfer layout under its own topic0
      (5L, Ingest.MintSig, topic(3), topic(4), dataWord)
    ).toDF("event_id", "topic0", "topic1", "topic2", "data")
    val out = Ingest.decodeAbi(logs)
      .select($"event_id", $"event", $"addr1", $"addr2", $"amount_cents".cast("long"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out.keySet == Set(1L, 3L, 5L))
    assert(out(1L)._1 == "Burn" && out(1L)._2.nonEmpty &&
      out(1L)._3.isEmpty && out(1L)._4.contains(42L))
    assert(out(3L)._1 == "Pause" && out(3L)._2.isEmpty &&
      out(3L)._3.isEmpty && out(3L)._4.isEmpty)
    assert(out(5L)._1 == "Mint" && out(5L)._2.nonEmpty &&
      out(5L)._3.nonEmpty && out(5L)._4.contains(42L))
  }

  test("C8: bytes32-topic and data-address layouts decode per shape") {
    def topic(i: Int) = "0x" + "0" * 63 + i.toString
    val nonce = "0x" + "ab" * 32 // a bytes32 word that is NOT address-shaped
    val dataPair = "0" * 24 + "a" * 40 + "0" * 24 + "b" * 40 // two addr words
    val logs = Seq(
      // AuthorizationUsed: addr topic1 + bytes32 topic2, NO data
      (1L, Ingest.AuthorizationUsedSig, topic(1), nonce, null: String),
      // ... with a stray data word: malformed for the layout, dropped
      (2L, Ingest.AuthorizationUsedSig, topic(1), nonce, "0" * 62 + "2a"),
      // OwnershipTransferred: no topics, both addresses in data
      (3L, Ingest.OwnershipTransferredSig, null: String, null: String, dataPair),
      // ... truncated to one word: malformed, dropped
      (4L, Ingest.OwnershipTransferredSig, null: String, null: String,
        dataPair.take(64)),
      // ... with a stray topic1: malformed, dropped
      (5L, Ingest.OwnershipTransferredSig, topic(1), null: String, dataPair)
    ).toDF("event_id", "topic0", "topic1", "topic2", "data")
    val out = Ingest.decodeAbi(logs)
      .select($"event_id", $"event", $"addr1", $"addr2", $"word2",
        $"amount_cents".cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))).toMap
    assert(out.keySet == Set(1L, 3L))
    // the nonce survives as the FULL 32-byte word, not an addr slice
    assert(out(1L)._1 == "AuthorizationUsed" && out(1L)._2.nonEmpty &&
      out(1L)._3.isEmpty && out(1L)._4.contains(nonce) && out(1L)._5.isEmpty)
    // both addresses decode from the packed data payload
    assert(out(3L)._1 == "OwnershipTransferred" &&
      out(3L)._2.contains("0x" + "a" * 40) &&
      out(3L)._3.contains("0x" + "b" * 40) &&
      out(3L)._4.isEmpty && out(3L)._5.isEmpty)
  }

  test("C8: full fn catalog routes multi-word layouts, drops dynamic selectors") {
    val addr1 = "0" * 24 + "a" * 40
    val addr2 = "0" * 24 + "b" * 40
    val amt = "0" * 62 + "2a" // uint256 42
    val fill = "0" * 63 + "1"
    val calls = Seq(
      // transferFrom(from, to, 42): 3 words, both role addresses
      (1L, s"0x23b872dd$addr1$addr2$amt"),
      // permit: 7 words — value is word 2, the rest opaque filler
      (2L, s"0xd505accf$addr1$addr2$amt$fill$fill$fill$fill"),
      // permit truncated to 6 words: malformed, dropped
      (3L, s"0xd505accf$addr1$addr2$amt$fill$fill$fill"),
      // version(): selector-only view call
      (4L, "0x54fd4d50"),
      // initialize: declared in the reference ABI but DYNAMIC layout —
      // deliberately undeclared here, so it drops
      (5L, s"0x3357162b$addr1$addr2$amt"),
      // transferWithAuthorization: 9 words, value at word 2
      (6L, s"0xe3ee160e$addr1$addr2$amt$fill$fill$fill$fill$fill$fill")
    ).toDF("event_id", "input")
    val out = Ingest.decodeFnCatalog(calls)
      .select($"event_id", $"fn", $"addr_arg", $"addr2_arg",
        $"amount_cents".cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 6L))
    for (id <- Seq(1L, 2L, 6L)) {
      assert(out(id)._2.contains("0x" + "a" * 40))
      assert(out(id)._3.contains("0x" + "b" * 40))
      assert(out(id)._4.contains(42L))
    }
    assert(out(1L)._1 == "transferFrom" && out(2L)._1 == "permit" &&
      out(6L)._1 == "transferWithAuthorization")
    assert(out(4L)._1 == "version" && out(4L)._2.isEmpty &&
      out(4L)._3.isEmpty && out(4L)._4.isEmpty)
  }

  test("C8: calldata router enforces selector layouts exactly") {
    val addr = "0" * 24 + "a" * 40 // one 32-byte word: 12 pad + 20 addr bytes
    val amt = "0" * 62 + "2a"      // uint256 42
    val calls = Seq(
      (1L, s"0xa9059cbb$addr$amt"),      // transfer(to, 42): well-formed
      (2L, s"0xa9059cbb$addr"),          // transfer missing amount: dropped
      (3L, s"0x42966c68$amt"),           // burn(42): amount-only layout
      (4L, s"0x42966c68$addr$amt"),      // burn with a stray word: dropped
      (5L, "0x8456cb59"),                // pause(): selector only
      (6L, s"0x8456cb59$amt"),           // pause with a stray word: dropped
      (7L, s"0xdeadbeef$addr$amt"),      // undeclared selector: dropped
      (8L, s"0x70a08231${"z" * 64}"),    // balanceOf with non-hex word: dropped
      (9L, s"zza9059cbb$addr$amt")       // junk where "0x" belongs: dropped
    ).toDF("event_id", "input")
    val out = Ingest.decodeCalldata(calls)
      .select($"event_id", $"fn", $"addr_arg", $"amount_cents".cast("long"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out.keySet == Set(1L, 3L, 5L))
    assert(out(1L)._1 == "transfer" &&
      out(1L)._2.contains("0x" + "a" * 40) && out(1L)._3.contains(42L))
    assert(out(3L)._1 == "burn" && out(3L)._2.isEmpty && out(3L)._3.contains(42L))
    assert(out(5L)._1 == "pause" && out(5L)._2.isEmpty && out(5L)._3.isEmpty)
  }

  test("conversion funnel matches a driver brute force of earliest chains") {
    val ev = Tables.events(spark, sf)
      .select($"user_id", expr("unix_micros(ts)").as("t"), $"event_type")
      .as[(Long, Long, String)].collect()
    val horizon = 72L * 3600 * 1000000L
    var n1 = 0L; var n2 = 0L; var n3 = 0L
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val signups = rows.filter(_._3 == "signup").map(_._2)
      if (signups.nonEmpty) {
        n1 += 1
        val t1 = signups.min
        val views = rows.filter(_._3 == "view").map(_._2)
          .filter(t => t > t1 && t <= t1 + horizon)
        if (views.nonEmpty) {
          n2 += 1
          val t2 = views.min
          if (rows.exists(r => r._3 == "purchase" &&
              r._2 > t2 && r._2 <= t1 + horizon)) n3 += 1
        }
      }
    }
    val got = Windows.conversionFunnel(spark, sf)
      .select($"depth", $"n_users").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> n1, 2 -> n2, 3 -> n3))
    assert(n1 > 0 && n2 > 0) // the fixture exercises the chain
  }

  test("uniqUpTo caps at N+1 and is exact below the cap") {
    val exact = Tables.events(spark, sf).groupBy($"event_type")
      .agg(countDistinct($"user_id")).as[(String, Long)].collect().toMap
    val capped = Rollups.combinatorRollup(spark, sf, upTo = 10)
      .select($"event_type", $"uniq_upto").as[(String, Long)].collect().toMap
    capped.foreach { case (t, u) => assert(u == math.min(exact(t), 11L)) }
    // a cap above every true cardinality reports the exact counts
    val uncapped = Rollups.combinatorRollup(spark, sf, upTo = 1000000)
      .select($"event_type", $"uniq_upto").as[(String, Long)].collect().toMap
    assert(uncapped == exact)
  }

  test("weighted median matches a driver cumulative-weight scan") {
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"doc_id", $"n_chars")
      .as[(String, Long, Long)].collect()
    val want = docs.groupBy(_._1).map { case (l, v) =>
      val sorted = v.sortBy(r => (r._3, r._2))
      val total = sorted.map(_._3).sum
      var cum = 0L
      l -> sorted.find { r => cum += r._3; cum * 2 >= total }.get._3
    }
    val got = Rollups.weightedMedianLength(spark, sf)
      .select($"lang", $"weighted_median_len")
      .as[(String, Long)].collect().toMap
    assert(got == want)
  }

  test("sliding sketch uniques track the exact rolling distinct within 5%") {
    val exact = Rollups.slidingUniqueUsers(spark, sf)
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val approx = Rollups.slidingUniqueUsersSketch(spark, sf)
      .as[(java.sql.Timestamp, Long)].collect()
    assert(approx.length == exact.size) // same observed anchors
    approx.foreach { case (h, a) =>
      val e = exact(h)
      assert(math.abs(a - e) <= math.max(2L, (0.05 * e).toLong),
        s"anchor=$h approx=$a exact=$e")
    }
  }

  test("sweep-line sliding uniques equal the explode-exact form row-for-row") {
    // the interval-merge + delta running-sum rewrite must reproduce the
    // exact window on every observed anchor — including users whose
    // hour sets merge into multi-hour coverage intervals and anchors
    // where several intervals start/end at once
    val explodeForm = Rollups.slidingUniqueUsersExplode(spark, sf).collect().toSeq
    val sweepForm = Rollups.slidingUniqueUsersSweep(spark, sf).collect().toSeq
    assert(sweepForm.nonEmpty)
    assert(sweepForm == explodeForm)
  }

  test("new-op plan shapes: tiny sides broadcast, profiler scans once") {
    // q115: the nlabels-row centroid table must broadcast back onto the
    // corpus scan — a shuffled join here would exchange every vector
    val p115 = graft.llm.Similarity.centroidOutliers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p115.contains("BroadcastHashJoin"))
    // q117: the one-row-per-source rate table likewise
    val p117 = graft.llm.Sampling.temperatureMix(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p117.contains("BroadcastHashJoin"))
    // q121: every column's stats ride ONE scan (multi-distinct Expand),
    // not a scan per column
    val p121 = ops.Monitoring.profileDocuments(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p121.contains("Expand"))
    assert("FileScan parquet".r.findAllIn(p121).length == 1)
  }

  test("profile counts nulls and distincts per column in one scan") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")))
      .toDF("id", "s")
    val got = ops.Monitoring.profileOf(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 3L, 0L, 3L, "1", "3")))
    assert(got("s") == (("s", 3L, 1L, 1L, "a", "a"))) // distinct/minmax skip nulls
  }

  test("as-of join preserves every left row and matches are never later") {
    val out = ops.AsOf.purchaseAttribution(spark, sf)
    val purchases = Tables.events(spark, sf)
      .filter($"event_type" === "purchase").count()
    assert(out.count() == purchases) // left-join semantics
    assert(out.filter($"last_view_ts" > $"purchase_ts").count() == 0)
    assert(out.filter($"gap_us" < 0).count() == 0)
    assert(out.filter($"last_view_ts".isNotNull).count() > 0)
  }

  /** Planted-fixture edges for the as-of interpolation: interior rows
    * interpolate linearly, a missing neighbor on either side yields
    * NULL, and an exact-timestamp hit degenerates to that row's value
    * (guarding the 0/0 weight). */
  test("as-of interpolation: interior linear, edges null, exact hit degenerate") {
    import ops.AsOf
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, t("2024-01-01 10:00:00")),  // interior: halfway
      (2L, 7L, t("2024-01-01 08:00:00")),  // before first view → null
      (3L, 7L, t("2024-01-01 12:30:00")),  // after last view → null
      (4L, 7L, t("2024-01-01 09:00:00")))  // exact hit → that value
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, t("2024-01-01 09:00:00"), 5.0),
      (7L, t("2024-01-01 11:00:00"), 9.0))
      .toDF("user_id", "ts", "value")
    val back = AsOf.asofJoin(left, right, Seq("user_id"), "ts", "ts")
      .withColumnRenamed("__asof", "__back")
    val both = AsOf.asofJoinForward(back, right, Seq("user_id"), "ts", "ts")
      .withColumnRenamed("__asof", "__fwd")
    val got = both.select($"event_id",
        when($"__back".isNull || $"__fwd".isNull, lit(null).cast("double"))
          .when(unix_micros($"__fwd.ts") === unix_micros($"__back.ts"), $"__back.value")
          .otherwise($"__back.value" + ($"__fwd.value" - $"__back.value") *
            ((unix_micros($"ts") - unix_micros($"__back.ts")).cast("double") /
             (unix_micros($"__fwd.ts") - unix_micros($"__back.ts")).cast("double")))
          .as("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) == Some(7.0), "interior must interpolate halfway")
    assert(got(2L).isEmpty, "no backward neighbor must yield null")
    assert(got(3L).isEmpty, "no forward neighbor must yield null")
    assert(got(4L) == Some(5.0), "exact hit must take that row's value")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = Rollups.topUsers(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("id-bucket rollup plans partial+final agg over a single shuffle") {
    // pins the canonical q12 shape so a plan regression (extra exchange,
    // lost map-side combine) can never hide behind bench noise; the
    // shuffles show with partition coalescing off, which switches off
    // plans.OnePartition (events at this scale is one split)
    val plan = TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Rollups.idBuckets(spark, sf).queryExecution.executedPlan.toString
    }
    def n(needle: String) = needle.r.findAllIn(plan).length
    assert(n("Exchange hashpartitioning") == 1, s"one shuffle expected in:\n$plan")
    assert(n("Exchange rangepartitioning") == 1) // only the output ORDER BY
    assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
           n("HashAggregate") == 2, s"partial+final agg expected in:\n$plan")
    // with the rule on, both shuffles become Coalesce 1 over the one split
    val onePlan = Rollups.idBuckets(spark, sf).queryExecution.executedPlan.toString
    def m(needle: String) = needle.r.findAllIn(onePlan).length
    assert(m("Exchange") == 0 && m("Coalesce 1") == 2, s"one stage expected in:\n$onePlan")
    assert(m("HashAggregate") == 2, s"partial+final agg expected in:\n$onePlan")
  }

  test("uniq-users rollup plans the two-phase distinct, nothing more") {
    // countDistinct's canonical shape: dedup aggregate over (hour, user)
    // + final aggregate over hour = exactly two shuffles (shown with
    // plans.OnePartition off, as above)
    val plan = TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Rollups.uniqUsersHourly(spark, sf).queryExecution.executedPlan.toString
    }
    def n(needle: String) = needle.r.findAllIn(plan).length
    assert(n("Exchange hashpartitioning") == 2, s"two shuffles expected in:\n$plan")
    assert(n("Exchange rangepartitioning") == 1)
    assert(n("HashAggregate") == 4, s"4-stage distinct agg expected in:\n$plan")
    // with the rule on, all three shuffles become Coalesce 1
    val onePlan = Rollups.uniqUsersHourly(spark, sf).queryExecution.executedPlan.toString
    def m(needle: String) = needle.r.findAllIn(onePlan).length
    assert(m("Exchange") == 0 && m("Coalesce 1") == 3, s"one stage expected in:\n$onePlan")
    assert(m("HashAggregate") == 4, s"4-stage distinct agg expected in:\n$onePlan")
  }

  test("point lookup pushes filters into the parquet scan") {
    val plan = Rollups.pointLookup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("EqualTo(user_id,7)") || plan.contains("user_id")))
  }

  test("CUBE grains: every grain re-aggregates to the grand total") {
    val cube = Windows.cubeGrains(spark, sf).collect()
    val grand = cube.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    val total = grand.head.getLong(2)
    // each of the other three grain families partitions the same total
    def grainSum(p: Row => Boolean) = cube.filter(p).map(_.getLong(2)).sum
    assert(grainSum(r => r.getString(0) != "ALL" && r.getString(1) == "ALL") == total)
    assert(grainSum(r => r.getString(0) == "ALL" && r.getString(1) != "ALL") == total)
    assert(grainSum(r => r.getString(0) != "ALL" && r.getString(1) != "ALL") == total)
  }

  test("range join: bands partition lineitem and broadcast the band side") {
    val out = StarJoins.priceBandJoin(spark, sf)
    val banded = out.agg(sum($"n_lines")).head.getLong(0)
    assert(banded == Tables.lineitem(spark, sf).count()) // bands cover + don't overlap
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed range join equi-plans and equals the inequality join") {
    val nlj = StarJoins.priceBandJoin(spark, sf)
    val bucketed = StarJoins.priceBandJoinBucketed(spark, sf)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected equi-join in:\n$plan")
    assert(!plan.contains("NestedLoop"), s"unexpected NLJ in:\n$plan")
    assert(nlj.collect().toSeq == bucketed.collect().toSeq)
  }

  test("gap fill: spine is dense per user and zero rows are genuine gaps") {
    val out = Windows.gapFillDaily(spark, sf).collect()
    val users = out.map(_.getLong(0)).distinct.length
    val days = out.map(_.getDate(1)).distinct.length
    assert(out.length == users * days) // dense cross spine
    assert(out.forall(r => r.getLong(2) > 0 || r.getDouble(3) == 0.0))
  }

  test("set cohorts: intersect and except are disjoint against purchasers") {
    val ev = Tables.events(spark, sf)
    val purchasers = ev.filter($"event_type" === "purchase")
      .select($"user_id").distinct().as[Long].collect().toSet
    val out = Pivots.setCohorts(spark, sf).collect()
    out.foreach { r =>
      val u = r.getLong(1)
      if (r.getString(0) == "click_and_purchase") assert(purchasers.contains(u))
      else assert(!purchasers.contains(u))
    }
    // the one-pass flags aggregate must equal the literal INTERSECT/EXCEPT
    val viaSetOps = Pivots.setCohortsViaSetOps(spark, sf).collect()
    assert(out.map(_.toSeq) sameElements viaSetOps.map(_.toSeq))
  }

  test("sessionize: session bounds nest and gaps between sessions exceed 30min") {
    val sess = Windows.sessionize(spark, sf)
      .select($"user_id", $"session_id", unix_micros($"start_ts").as("s"),
              unix_micros($"end_ts").as("e"), $"n_events")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).values
    val gapUs = 1800L * 1000000L
    sess.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, _, s, e, n) => assert(s <= e && n >= 1) }
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, _, e1, _), (_, _, s2, _, _)) => assert(s2 - e1 > gapUs)
        case _ =>
      }
    }
    // total events conserved
    val n = Windows.sessionize(spark, sf).agg(sum($"n_events")).head.getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("global-rank consumers plan no single-partition exchange or window") {
    // the scale guarantee behind q65/q84/q104: no operator may funnel
    // every row through one task — a regression to an unpartitioned
    // window or a SinglePartition exchange must fail loudly here
    for (q <- Seq("q65_ntile_volume", "q84_training_order", "q104_token_budget")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"$q plans SinglePartition")
    }
  }
}
