package graft.queries

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.io.FooterSchema
import graft.operators.{Drift, Freq, Relational, Scd, Sketches}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 scale-ops tier: the operators whose whole point is what they
  * REFUSE to shuffle at 100 TB —
  *  - mergeable Misra-Gries heavy-hitter summaries and the two-pass
  *    exact top-k they make affordable, global (q190) and per-group
  *    (q193): capacity·|partitions| summary rows instead of a
  *    vocabulary-sized shuffle — plus the q200 composition, where the
  *    discovered top-k becomes a corpus-adaptive stoplist feeding a
  *    per-document signal;
  *  - bloom-prefiltered joins (q191: fact rows that cannot match die
  *    before the exchange; result provably identical to the plain
  *    join) and the pre-join fanout guard (q199: per-key pair products
  *    in DECIMAL(38,0), the row-explosion sizing report);
  *  - PSI distribution-drift reports between corpus snapshots — scalar
  *    signals (q192), embedding coordinate marginals (q197), and
  *    per-dimension vector drift (q198): |groups|(·dims)-row histogram
  *    sketches and a zip_with, never raw rows;
  *  - SCD2 dimension versioning (q194: the key-partitioned lead-window
  *    reference whose incremental/streaming forms are law-pinned in
  *    ScdSpec), its consumer compositions (q203: fromHistory versions
  *    probed by asOfJoin == the oracle's half-open interval join;
  *    q205: the q166 last-touch recipe chained into the q203 segment —
  *    two as-of union windows vs correlated-MAX + interval join), and
  *    the bucketed store's PHYSICAL read path (q204, round 16: on-disk
  *    two-batch fold → readScdStore → content + probe, against an
  *    oracle that never sees the store).
  * Each gate pins the EXACT result against a DuckDB replay — the
  * approximation machinery is internal; what ships is exact or
  * integer-micro deterministic.
  */
object ScaleQueries extends QueryModule {
  import Q._

  /** Hermetic tmp store for the read-path gates (q204/q206/q207):
    * path keyed on the SANITIZED full data dir (`dir.hashCode` could
    * collide two dirs onto one store) plus the pid (two concurrent
    * driver processes — Verify vs Bench, parallel CI — would otherwise
    * race delete/rebuild against each other's lazily-read plans).
    * Deleted fresh so every call rebuilds from scratch, then `build`
    * runs (the gate's merge calls — they must CREATE the path: the
    * store maintainers take the path's existence as "store present",
    * so pre-creating it here would corrupt their first-batch branch),
    * and only THEN is the path registered for JVM-exit cleanup —
    * `FileSystem.deleteOnExit` refuses to register a path that does
    * not exist yet, so registering before the build would be a silent
    * no-op and pid-keyed dirs would leak one per process per gate.
    */
  private def freshTmpStore(s: SparkSession, dir: String, tag: String)(
      build: String => Unit): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_${tag}_store_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      ProcessHandle.current().pid()
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    // register in a finally: a build that fails AFTER its first merge
    // created the dir must still leave the partial store registered for
    // exit cleanup, or exactly the pid-keyed leak this helper closes
    // comes back through the failure path
    try {
      build(path)
      require(fs.exists(hp),
        s"gate store $path missing after its build — the merge calls " +
          "must create it")
    } finally if (fs.exists(hp)) fs.deleteOnExit(hp)
    path
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-10 hottest part keys via the Misra-Gries two-pass —
    // the frequent-items complement of q93's count-min gate (CMS:
    // overcount-only POINT estimates; MG: undercount-only summaries
    // whose candidate set provably contains every heavy item): the
    // candidate summary leaves each partition capped at `capacity` rows,
    // pass 2 re-counts candidates exactly behind a broadcast semi-join.
    // The exactness precondition (k-th count > N/(capacity+1)) is NOT
    // assumed — exactTopK certifies it IN-PLAN and fails loudly when it
    // stops holding. Partkey counts stay ~30-50 at every sf while the
    // bound N/(capacity+1) grows with N, so the capacity must scale
    // with the data: 16384 certifies through sf0.1 (bound 36 < kth 50);
    // a bigger run re-sizes capacity or the plan itself refuses.
    // Tie-break (cnt desc, key asc) matches the oracle's ORDER BY.
    "q190_heavy_hitters" -> ((s, dir) =>
      Freq.exactTopK(Tables.lineitem(s, dir), "l_partkey", k = 10,
        capacity = 16384)),

    // Bloom-prefiltered fact×dim join — the gate is result IDENTITY with
    // the plain join (false positives are re-checked by the join; false
    // negatives are impossible), aggregated per priority for a stable
    // row count. The dim (F-status orders) is key-set-sized in the
    // bloom: ~9.6 bits per key at 1% fpp vs full rows in a broadcast.
    "q191_bloom_join" -> ((s, dir) => {
      import s.implicits._
      val fact = Tables.lineitem(s, dir)
      val dim = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      Relational.bloomPrefilteredJoin(fact, dim, Seq("l_orderkey"),
          expectedKeys = 100000L, fpp = 0.01)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }),

    // Per-group exact Top-N through the grouped MG tier: top-5 tokens
    // per language without ever shuffling the full (lang, token) count
    // table — candidates leave each partition capped per (group,
    // partition), the rank window sees candidate counts only. The
    // per-group certificate (in-plan, loud on failure) holds at EVERY
    // sf here via its cheap branch: the token vocabulary is finite, so
    // per-partition maps never decrement and candidates are complete
    // exact counts (and if vocab ever outgrew capacity, the certificate
    // would demand each lang's 5th count > N_lang/(capacity+1) or fail).
    "q193_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"lang", explode(tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
      Freq.exactTopKPerGroup(toks, "lang", "tok", k = 5, capacity = 4096)
        .orderBy($"lang", $"cnt".desc, $"tok")
    }),

    // PSI drift between two corpus snapshots (even/odd doc_id halves —
    // a deterministic stand-in for week N vs week N+1) of the n_chars
    // distribution per language, on the q126 fixed grid [0,1024)/16.
    // psi_micro is the ln-micro BIGINT the LM tier already gates.
    "q192_psi_drift" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Drift.psiReport(
          docs.filter($"doc_id" % 2 === 0),
          docs.filter($"doc_id" % 2 === 1),
          "lang", "n_chars", Sketches.Grid(lo = 0L, width = 64L, nBuckets = 16))
        .orderBy($"lang")
    }),

    // EMBEDDING drift probe: per-label PSI of a coordinate MARGINAL
    // (dimension 0 in exact 1e-6 micro units — float→double cast and
    // the micro floor are bit-exact in any engine, no sum-order
    // sensitivity) between the even/odd vec_id halves. Norms are
    // useless on unit-normalized embeddings (all ≈ 1.0); coordinate
    // marginals are the standard cheap probe — at 100 TB this is two
    // |labels|-row histogram sketches over a zero-shuffle map pass, the
    // q192 shape applied to vectors.
    "q197_embedding_drift" -> ((s, dir) => {
      import s.implicits._
      val vm = Tables.embeddings(s, dir).select($"vec_id", $"label",
        floor(element_at($"embedding", 1).cast("double") * 1e6 + 0.5)
          .cast("long").as("v_micro"))
      Drift.psiReport(
          vm.filter($"vec_id" % 2 === 0), vm.filter($"vec_id" % 2 === 1),
          "label", "v_micro",
          Sketches.Grid(lo = -524288L, width = 65536L, nBuckets = 16))
        .orderBy($"label")
    }),

    // Per-DIMENSION vector drift: q197 widened to every coordinate —
    // the actionable report ("which dims moved for which label"),
    // |labels|·64 sketch rows end to end. Zero-shuffle posexplode
    // passes feed composite-keyed histogram aggregates.
    "q198_vector_drift" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      Drift.psiByDimension(
          e.filter($"vec_id" % 2 === 0), e.filter($"vec_id" % 2 === 1),
          "label", "embedding",
          Sketches.Grid(lo = -524288L, width = 65536L, nBuckets = 16))
        .orderBy($"label", $"dim")
    }),

    // Pre-join fanout guard (`Relational.joinFanoutReport`): the
    // clicks×purchases-per-user join that attribution (q188/q195) pays
    // for, sized BEFORE running it — top-5 exploding users with exact
    // pair counts and micro shares. The operator's products ride
    // DECIMAL(38,0) for corpus cardinalities; the gate casts to BIGINT
    // (exact at every test sf) so both engines emit one dtype.
    "q199_join_fanout" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      Relational.joinFanoutReport(
          ev.filter($"event_type" === "click"),
          ev.filter($"event_type" === "purchase"),
          "user_id", "user_id", k = 5)
        .select($"rank".cast("long").as("rank"), $"key",
          $"cnt_left", $"cnt_right", $"pairs".cast("long").as("pairs"),
          $"total_pairs".cast("long").as("total_pairs"), $"share_micro")
    }),

    // SCD2 version table from the event history: each user's event_type
    // chain becomes [valid_from, valid_to) versions (NULL = current),
    // ties broken by event_id — the dimension table asOfJoin probes.
    // The incremental/streaming forms (applyBatch/maintainScd2 — only
    // affected keys re-derive, late changes exact) are law-pinned in
    // ScdSpec against this same fromHistory reference.
    "q194_scd2" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"ts", $"event_id")
      Scd.fromHistory(ev, Seq("user_id"), "ts", "event_id")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"valid_from").as("valid_from_us"),
          unix_micros($"valid_to").as("valid_to_us"))
        .orderBy($"user_id", $"valid_from_us", $"event_id")
    }),

    // Time-to-next-error after each purchase — the FORWARD as-of join
    // (`Relational.asOfJoinForward`): earliest error at-or-after the
    // purchase per user, one keyed shuffle, zero joins, null gap when
    // no error follows. The temporal mirror of the q-gated backward
    // asOfJoin the SCD2 store serves.
    "q202_time_to_next_error" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_id"), $"ts")
      val e = ev.filter($"event_type" === "error")
        .select($"user_id", $"ts")
      Relational.asOfJoinForward(p, e, Seq("user_id"), "ts", "ts")
        .select($"p_id", $"user_id", unix_micros($"ts").as("p_us"),
          unix_micros($"asof.ts").as("next_err_us"))
        .withColumn("gap_us", $"next_err_us" - $"p_us")
        .orderBy($"p_id")
    }),

    // Corpus-diversity dashboard: Shannon entropy + top-group share
    // for the language AND source dimensions in ONE corpus pass — the
    // "collapsing onto one source?" numbers, ln-micro deterministic.
    "q201_diversity" -> ((s, dir) => {
      import s.implicits._
      Drift.diversityReportMulti(Tables.documents(s, dir),
          Seq("lang", "source"))
        .orderBy($"dim")
    }),

    // Corpus-ADAPTIVE stopword signal — the q190 machinery composed
    // into curation: the exact top-10 corpus tokens (two-pass MG, ties
    // by token asc) become the stoplist, and each document reports its
    // stopword ratio in exact micro units. Fixed stoplists (the q21
    // signal) mistune on domain corpora; discovering the list from the
    // corpus itself is the standard fix, and it costs one summary pass
    // + one broadcast semi-join more than the fixed-list signal.
    "q200_adaptive_stopwords" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
      val stop = Freq.exactTopK(toks, "tok", k = 10, capacity = 4096)
        .select($"tok".as("__stop"))
      val perDoc = toks
        .join(broadcast(stop), $"tok" === $"__stop", "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count($"__stop").as("n_stop"))
      val num = $"n_stop" * lit(1000000L)
      perDoc.withColumn("stop_ratio_micro",
          floor((num - pmod(num, $"n_tokens")).cast("double") /
            $"n_tokens".cast("double") + 0.5).cast("long"))
        .orderBy($"doc_id")
    }),

    // The SCD2 CONSUMER path gated cross-engine end to end — the
    // q92/q128/q146 composition pattern applied to the dimension tier:
    // the user's status dimension is VERSIONED from non-purchase
    // events (Scd.fromHistory), empty [t, t) tie intervals dropped (no
    // instant inhabits them — and dropping them leaves valid_from
    // UNIQUE per user, which is what makes the as-of probe equal the
    // interval join), then every purchase probes it with
    // Relational.asOfJoin on valid_from. The oracle replays the
    // version build as a lead window and the probe as the half-open
    // INTERVAL join — on a version table those are provably the same
    // relation, and this gate pins that equivalence between engines
    // instead of only within one (ScdSpec's consumer test).
    // '(none)' = purchases before the user's first status.
    "q203_scd2_asof" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val changes = ev.filter($"event_type" =!= "purchase")
        .select($"user_id", $"event_type".as("status"), $"ts", $"event_id")
      val versions = Scd.fromHistory(changes, Seq("user_id"), "ts",
          "event_id")
        .filter($"valid_to".isNull || $"valid_from" < $"valid_to")
        .select($"user_id", $"status", $"valid_from")
      val facts = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts")
      Relational.asOfJoin(facts, versions, Seq("user_id"), "ts",
          "valid_from")
        .select($"user_id",
          coalesce($"asof.status", lit("(none)")).as("status"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"status")
    }),

    // The bucketed SCD2 store's PHYSICAL read path gated cross-engine —
    // the stored-IVF/BM25 discipline applied to the dimension store:
    // the change history is folded into an on-disk
    // hash-bucket-partitioned store in TWO batches (the second a
    // trickle touching a handful of users, so the merge's store read is
    // partition-pruned and its dynamic overwrite rewrites only the
    // affected buckets — ScdSpec plan-gates the pruned scan), then the
    // store is read back with readScdStore and consumed BOTH ways: raw
    // version counts per status (pins the stored CONTENT — the fold law
    // applyBatch∘…∘fromHistory == fromHistory(whole) crossing the disk
    // round-trip) and the q203 as-of purchase probe (pins the stored
    // CONSUMER). The oracle rebuilds versions directly from the change
    // history as a lead window — it never sees the store, so a
    // hash-match proves the physical store holds exactly the relation
    // the SQL build defines. The store is rebuilt from scratch per call
    // (tmp path keyed by the sf dir) to stay hermetic.
    "q204_scd2_store_read" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val changes = ev.filter($"event_type" =!= "purchase")
        .select($"user_id", $"event_type".as("status"), $"ts", $"event_id")
      val trickle = $"user_id" % 499 === 0 // a few users → few buckets
      val store = freshTmpStore(s, dir, "q204") { p =>
        Scd.mergeBatchIntoBucketedScdStore(changes.filter(!trickle),
          Seq("user_id"), "ts", "event_id", p, nBuckets = 16)
        Scd.mergeBatchIntoBucketedScdStore(changes.filter(trickle),
          Seq("user_id"), "ts", "event_id", p, nBuckets = 16)
      }
      val stored = Scd.readScdStore(s, store)
      val vstats = stored.groupBy($"status")
        .agg(count(lit(1)).as("n_versions"),
          count(when($"valid_to".isNull, 1)).as("n_current"))
      val versions = stored
        .filter($"valid_to".isNull || $"valid_from" < $"valid_to")
        .select($"user_id", $"status", $"valid_from")
      val facts = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts")
      val pstats = Relational.asOfJoin(facts, versions, Seq("user_id"),
          "ts", "valid_from")
        .select(coalesce($"asof.status", lit("(none)")).as("status"))
        .groupBy($"status").agg(count(lit(1)).as("n_purchases"))
      vstats.join(pstats, Seq("status"), "full_outer")
        .select($"status",
          coalesce($"n_versions", lit(0L)).as("n_versions"),
          coalesce($"n_current", lit(0L)).as("n_current"),
          coalesce($"n_purchases", lit(0L)).as("n_purchases"))
        .orderBy($"status")
    }),

    // Attribution segmented by the as-of dimension — the composition
    // every marketing/curation report actually runs: TWO chained as-of
    // joins (latest click at-or-before each purchase with a 3-day exact
    // lookback, the q166 recipe; then the user's SCD2 status as of the
    // purchase instant, the q203 recipe) feeding one per-status
    // attributed-vs-total rollup. Each asOfJoin is ONE user-keyed
    // union-window shuffle — no interval join, no correlated subquery,
    // no pair explosion — and the first join's output flattens click_ts
    // before the second so the chain stays struct-collision-free. The
    // oracle replays the touch as a correlated MAX and the segment as
    // the half-open interval join: pinning that THAT pair of relational
    // idioms equals this pair of window idioms is exactly the
    // cross-engine equivalence the chain rests on.
    "q205_attribution_by_status" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val changes = ev
        .filter($"event_type" =!= "purchase" && $"event_type" =!= "click")
        .select($"user_id", $"event_type".as("status"), $"ts", $"event_id")
      val versions = Scd.fromHistory(changes, Seq("user_id"), "ts",
          "event_id")
        .filter($"valid_to".isNull || $"valid_from" < $"valid_to")
        .select($"user_id", $"status", $"valid_from")
      // null-user clicks are droppable on BOTH engines (Spark's as-of
      // window would otherwise treat NULL as a regular key and match
      // null-user purchases to them, while SQL equality never does)
      val clicks = ev.filter($"event_type" === "click" &&
          $"user_id".isNotNull)
        .select($"user_id", $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts")
      val touched = Relational.asOfJoin(purchases, clicks, Seq("user_id"),
          "ts", "click_ts")
        .select($"user_id", $"event_id", $"ts",
          $"asof.click_ts".as("click_ts"))
      val lookbackUs = 3L * 86400L * 1000000L
      Relational.asOfJoin(touched, versions, Seq("user_id"), "ts",
          "valid_from")
        .select(coalesce($"asof.status", lit("(none)")).as("status"),
          ($"click_ts".isNotNull &&
            unix_micros($"ts") - unix_micros($"click_ts") <= lookbackUs)
            .as("attributed"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_purchases"),
          count(when($"attributed", 1)).as("n_attributed"))
        .orderBy($"status")
    }),

    // The histogram store's PHYSICAL read path gated cross-engine —
    // the q204 discipline applied to the second maintained store
    // (round-16 verdict #2): the documents' n_chars distribution is
    // folded into the on-disk store in TWO batches over the pinned
    // q126 grid ([0,1024)/16) via mergeHistogramsIntoStore (counts ADD
    // — the store after both batches must equal the one-shot histogram
    // of the union, the merge law crossing the disk round-trip), then
    // the store is read back and consumed BOTH ways: every non-empty
    // (source, bucket, cnt) cell (the stored CONTENT, complete — a
    // hash match pins every count in every bucket) and the p50/p90
    // interpolated quantiles derived FROM the stored counts (the
    // stored CONSUMER, q126's serving shape). The oracle rebuilds the
    // histogram and quantiles directly from the raw documents and
    // never sees the store. Store path is per-dir/per-pid and rebuilt
    // from scratch each call to stay hermetic.
    "q206_hist_store_read" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val grid = Sketches.Grid(lo = 0L, width = 64L, nBuckets = 16)
      val trickle = $"doc_id" % 97 === 0 // a thin second batch
      val store = freshTmpStore(s, dir, "q206") { p =>
        Sketches.mergeHistogramsIntoStore(docs.filter(!trickle), "source",
          "n_chars", grid, p)
        Sketches.mergeHistogramsIntoStore(docs.filter(trickle), "source",
          "n_chars", grid, p)
      }
      val stored = FooterSchema.read(s, store)
      val content = stored.select($"source", $"n",
          posexplode($"counts").as(Seq("bucket", "cnt")))
        .filter($"cnt" > 0)
      val quant = Sketches.quantilesFromHistogram(stored, "source",
          0.0, 1024.0, 16, Seq(0.5, 0.9))
        .groupBy($"source")
        .agg(max(when($"q" === 0.5, $"est")).as("p50"),
          max(when($"q" === 0.9, $"est")).as("p90"))
      content.join(quant, Seq("source"))
        .select($"source", $"bucket", $"cnt", $"n", $"p50", $"p90")
        .orderBy($"source", $"bucket")
    }),

    // The MG hitter store's read path gated cross-engine — the
    // read-gate discipline's third store, in the one regime where an
    // EXACT cross-engine gate is sound: with capacity ≥ the per-group
    // vocabulary (31 tokens per lang in these fixtures, capacity 32)
    // Misra-Gries never decrements, per-partition summaries are exact
    // partial counts, mergeMg's per-group rank-(cap+1) subtrahend never
    // exists, and the stored est IS the exact count — so the certified
    // read (est·(cap+1) > n_total_group, heaviness as a THEOREM) must
    // equal the oracle's exact heavy set, count for count. The
    // certificate line is still discriminating at capacity 32 (the
    // bound total/33 cuts 1–8 of each lang's 31 tokens). Two-batch
    // on-disk fold (totals and counters both ADD across the disk
    // round-trip), then guaranteedHittersByGroup serves the gate
    // output. Below-vocab capacities stay gate-less by design: est
    // becomes partition-order-dependent and only the certified-subset
    // PROPERTY (FreqSpec) holds, not cross-engine equality.
    "q207_hitter_store_read" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", $"lang",
          explode(tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
      val cap = 32
      val trickle = $"doc_id" % 101 === 0 // a thin second batch
      val store = freshTmpStore(s, dir, "q207") { p =>
        Freq.mergeBatchIntoGroupHitterStore(toks.filter(!trickle), "lang",
          "tok", cap, p)
        Freq.mergeBatchIntoGroupHitterStore(toks.filter(trickle), "lang",
          "tok", cap, p)
      }
      val stored = FooterSchema.read(s, store)
      // exactness precondition, asserted so a regenerated corpus whose
      // vocabulary outgrows the capacity fails with a READABLE message
      // instead of an opaque oracle row diff (round-17 ADVICE): the
      // cross-engine equality below is a theorem ONLY in the
      // no-decrement regime. Checked from the STORE's own per-group mass
      // invariant (sum(est) == n_total ⟺ no decrement ever fired — see
      // [[Freq.requireExactRegime]]), a sketch-sized aggregate; the
      // round-18 shape re-scanned every token for a distinct count per
      // call (+0.45 s at sf0.1, a full extra corpus pass at scale)
      Freq.requireExactRegime(stored, cap)
      Freq.guaranteedHittersByGroup(stored, cap)
        .select($"group".as("lang"), $"item".as("tok"), $"est", $"n_total")
        .orderBy($"lang", $"tok")
    })
  )

  override def oracles: Map[String, String] = Map(

    // version build replayed as the lead window, probe as the
    // half-open interval join (== as-of on a version table)
    "q203_scd2_asof" ->
      s"""WITH ${Q.eventsUs},
         |ch AS (SELECT user_id, event_type AS status, ts, event_id
         |       FROM ev WHERE event_type <> 'purchase'
         |         AND user_id IS NOT NULL),
         |v AS (SELECT user_id, status, ts AS valid_from,
         |        lead(ts) OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS valid_to
         |      FROM ch),
         |nv AS (SELECT * FROM v
         |       WHERE valid_to IS NULL OR valid_from < valid_to),
         |f AS (SELECT user_id, event_id, ts FROM ev
         |      WHERE event_type = 'purchase'),
         |j AS (SELECT f.user_id, COALESCE(nv.status, '(none)') AS status
         |      FROM f LEFT JOIN nv ON f.user_id = nv.user_id
         |        AND f.ts >= nv.valid_from
         |        AND (nv.valid_to IS NULL OR f.ts < nv.valid_to))
         |SELECT status, COUNT(*) AS n_purchases,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // the store never reaches DuckDB: versions rebuild as the lead
    // window over the WHOLE change history (== the two-batch bucketed
    // fold by the applyBatch law), content pinned by per-status
    // version/current counts, consumer pinned by the q203 probe shape
    "q204_scd2_store_read" ->
      s"""WITH ${Q.eventsUs},
         |ch AS (SELECT user_id, event_type AS status, ts, event_id
         |       FROM ev WHERE event_type <> 'purchase'
         |         AND user_id IS NOT NULL),
         |v AS (SELECT user_id, status, ts AS valid_from,
         |        lead(ts) OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS valid_to
         |      FROM ch),
         |vs AS (SELECT status, COUNT(*) AS n_versions,
         |         COUNT(*) FILTER (WHERE valid_to IS NULL) AS n_current
         |       FROM v GROUP BY 1),
         |nv AS (SELECT * FROM v
         |       WHERE valid_to IS NULL OR valid_from < valid_to),
         |f AS (SELECT user_id, event_id, ts FROM ev
         |      WHERE event_type = 'purchase'),
         |j AS (SELECT COALESCE(nv.status, '(none)') AS status
         |      FROM f LEFT JOIN nv ON f.user_id = nv.user_id
         |        AND f.ts >= nv.valid_from
         |        AND (nv.valid_to IS NULL OR f.ts < nv.valid_to)),
         |ps AS (SELECT status, COUNT(*) AS n_purchases FROM j GROUP BY 1)
         |SELECT COALESCE(vs.status, ps.status) AS status,
         |  COALESCE(vs.n_versions, 0) AS n_versions,
         |  COALESCE(vs.n_current, 0) AS n_current,
         |  COALESCE(ps.n_purchases, 0) AS n_purchases
         |FROM vs FULL OUTER JOIN ps ON vs.status = ps.status
         |ORDER BY 1""".stripMargin,

    // the store never reaches DuckDB: the union-histogram (counts add,
    // so two batches == one) and the q126 interpolation law rebuild
    // from the raw documents; a hash match proves the physical store
    // holds exactly the per-bucket counts the SQL histogram defines
    "q206_hist_store_read" ->
      """WITH b AS (
        |  SELECT source,
        |    LEAST(15, GREATEST(0, CAST(floor(
        |      (CAST(n_chars AS DOUBLE) - 0.0) / 64.0) AS INTEGER))) AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(cnt) AS n FROM c GROUP BY 1),
        |qq AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q),
        |e AS (
        |  SELECT c.source, q, tot.n, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY c.source, q ORDER BY bucket) AS cum,
        |    CEIL(q * CAST(tot.n AS DOUBLE)) AS t
        |  FROM c JOIN tot USING (source) CROSS JOIN qq),
        |qv AS (
        |  SELECT source,
        |    MAX(CASE WHEN q = 0.5 THEN 0.0 + 64.0 * (bucket +
        |      CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) END) AS p50,
        |    MAX(CASE WHEN q = 0.9 THEN 0.0 + 64.0 * (bucket +
        |      CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) END) AS p90
        |  FROM e WHERE cum >= t AND (cum - cnt) < t GROUP BY source)
        |SELECT c.source, CAST(c.bucket AS INTEGER) AS bucket,
        |  CAST(c.cnt AS BIGINT) AS cnt, CAST(tot.n AS BIGINT) AS n,
        |  qv.p50, qv.p90
        |FROM c JOIN tot USING (source) JOIN qv USING (source)
        |ORDER BY source, bucket""".stripMargin,

    // the store never reaches DuckDB: exact per-(lang, token) counts +
    // per-lang totals (== the no-decrement store by the exact-branch
    // argument at the gate), then the certificate inequality verbatim —
    // cnt·33 > total at capacity 32
    "q207_hitter_store_read" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tt AS (SELECT CAST(lang AS VARCHAR) AS lang, tok FROM t
        |       WHERE len(tok) > 0 AND lang IS NOT NULL),
        |c AS (SELECT lang, tok, COUNT(*) AS cnt FROM tt GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(cnt) AS total FROM c GROUP BY 1)
        |SELECT c.lang, c.tok, CAST(c.cnt AS BIGINT) AS est,
        |  CAST(tot.total AS BIGINT) AS n_total
        |FROM c JOIN tot USING (lang)
        |WHERE c.cnt * 33 > tot.total
        |ORDER BY lang, tok""".stripMargin,

    // touch replayed as a correlated MAX over clicks at-or-before the
    // purchase, segment as the half-open interval join, lookback as an
    // exact epoch-microsecond difference (259200000000 = 3 days)
    "q205_attribution_by_status" ->
      s"""WITH ${Q.eventsUs},
         |ch AS (SELECT user_id, event_type AS status, ts, event_id
         |       FROM ev WHERE event_type NOT IN ('purchase', 'click')
         |         AND user_id IS NOT NULL),
         |v AS (SELECT user_id, status, ts AS valid_from,
         |        lead(ts) OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS valid_to
         |      FROM ch),
         |nv AS (SELECT * FROM v
         |       WHERE valid_to IS NULL OR valid_from < valid_to),
         |p AS (SELECT user_id, event_id, ts FROM ev
         |      WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts FROM ev
         |      WHERE event_type = 'click' AND user_id IS NOT NULL),
         |t AS (SELECT p.user_id, p.ts,
         |        (SELECT MAX(c.ts) FROM c
         |         WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS click_ts
         |      FROM p),
         |seg AS (SELECT COALESCE(nv.status, '(none)') AS status,
         |          t.click_ts IS NOT NULL AND
         |            epoch_us(t.ts) - epoch_us(t.click_ts) <= 259200000000
         |            AS attributed
         |        FROM t LEFT JOIN nv ON t.user_id = nv.user_id
         |          AND t.ts >= nv.valid_from
         |          AND (nv.valid_to IS NULL OR t.ts < nv.valid_to))
         |SELECT status, COUNT(*) AS n_purchases,
         |  COUNT(*) FILTER (WHERE attributed) AS n_attributed
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin,

    // correlated MIN-over-following replay of the forward as-of
    "q202_time_to_next_error" ->
      s"""WITH ${Q.eventsUs},
         |p AS (SELECT user_id, event_id AS p_id, ts FROM ev
         |      WHERE event_type = 'purchase'),
         |er AS (SELECT user_id, ts FROM ev WHERE event_type = 'error')
         |SELECT p.p_id, p.user_id, epoch_us(p.ts) AS p_us,
         |  (SELECT MIN(epoch_us(er.ts)) FROM er
         |   WHERE er.user_id = p.user_id AND er.ts >= p.ts) AS next_err_us,
         |  (SELECT MIN(epoch_us(er.ts)) FROM er
         |   WHERE er.user_id = p.user_id AND er.ts >= p.ts)
         |    - epoch_us(p.ts) AS gap_us
         |FROM p ORDER BY p_id""".stripMargin,

    // the ln-micro entropy replay, one CTE pair per dimension
    "q201_diversity" ->
      """WITH cl AS (SELECT CAST(lang AS VARCHAR) AS g, COUNT(*) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tl AS (SELECT SUM(n) AS total FROM cl),
        |el AS (
        |  SELECT 'lang' AS dim, COUNT(*) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS entropy_micro,
        |    CAST((MAX(n) * 1000000) // MAX(total) AS BIGINT)
        |      AS top_share_micro
        |  FROM cl, tl),
        |cs AS (SELECT CAST(source AS VARCHAR) AS g, COUNT(*) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |ts AS (SELECT SUM(n) AS total FROM cs),
        |es AS (
        |  SELECT 'source' AS dim, COUNT(*) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS entropy_micro,
        |    CAST((MAX(n) * 1000000) // MAX(total) AS BIGINT)
        |      AS top_share_micro
        |  FROM cs, ts)
        |SELECT * FROM el UNION ALL SELECT * FROM es ORDER BY dim""".stripMargin,

    "q200_adaptive_stopwords" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM t WHERE len(tok) > 0),
        |stop AS (
        |  SELECT tok FROM tt GROUP BY tok
        |  ORDER BY COUNT(*) DESC, tok LIMIT 10),
        |d AS (
        |  SELECT tt.doc_id, COUNT(*) AS n_tokens,
        |    COUNT(stop.tok) AS n_stop
        |  FROM tt LEFT JOIN stop ON tt.tok = stop.tok
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, n_stop,
        |  CAST((n_stop * 1000000) // n_tokens AS BIGINT)
        |    AS stop_ratio_micro
        |FROM d ORDER BY doc_id""".stripMargin,

    // Spark's unix_micros is DuckDB's epoch_us — same µs integers
    "q194_scd2" ->
      s"""WITH ${Q.eventsUs}
         |SELECT user_id, event_id, event_type,
         |  epoch_us(ts) AS valid_from_us,
         |  epoch_us(lead(ts) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
         |FROM ev
         |ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    "q190_heavy_hitters" ->
      """SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin,

    "q191_bloom_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${oSum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q193_topk_per_group" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, tok, COUNT(*) AS cnt FROM t
        |  WHERE len(tok) > 0 GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, tok, cnt,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY cnt DESC, tok) AS rn
        |  FROM c)
        |SELECT lang, tok, cnt FROM r WHERE rn <= 5
        |ORDER BY lang, cnt DESC, tok""".stripMargin,

    // HUGEINT replays the DECIMAL(38,0) product (the q189 discipline);
    // // is the exact integral divide for the micro share
    "q199_join_fanout" ->
      s"""WITH ${Q.eventsUs},
         |ca AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt_left
         |       FROM ev WHERE event_type = 'click' GROUP BY 1),
         |cb AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt_right
         |       FROM ev WHERE event_type = 'purchase' GROUP BY 1),
         |p AS (SELECT key, cnt_left, cnt_right,
         |        CAST(cnt_left AS HUGEINT) * CAST(cnt_right AS HUGEINT)
         |          AS pairs
         |      FROM ca JOIN cb USING (key)),
         |t AS (SELECT SUM(pairs) AS total_pairs FROM p),
         |top AS (
         |  SELECT *, row_number() OVER (ORDER BY pairs DESC, key) AS rank
         |  FROM p ORDER BY pairs DESC, key LIMIT 5)
         |SELECT CAST(rank AS BIGINT) AS rank, key, cnt_left, cnt_right,
         |  CAST(pairs AS BIGINT) AS pairs,
         |  CAST(total_pairs AS BIGINT) AS total_pairs,
         |  CAST((pairs * 1000000) // total_pairs AS BIGINT) AS share_micro
         |FROM top, t ORDER BY rank""".stripMargin,

    // q197's replay per dimension: DuckDB zips parallel unnests, so
    // unnest(range(len)) is Spark's 0-based posexplode ordinal
    "q198_vector_drift" ->
      """WITH vm AS (
        |  SELECT vec_id, label,
        |    unnest(range(len(embedding))) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
        |      AS BIGINT) AS v
        |  FROM embeddings),
        |va AS (SELECT label, dim, LEAST(15, GREATEST(0, CAST(floor(
        |    (CAST(v AS DOUBLE) + 524288.0) / 65536.0) AS INTEGER))) AS bucket
        |  FROM vm WHERE vec_id % 2 = 0),
        |vb AS (SELECT label, dim, LEAST(15, GREATEST(0, CAST(floor(
        |    (CAST(v AS DOUBLE) + 524288.0) / 65536.0) AS INTEGER))) AS bucket
        |  FROM vm WHERE vec_id % 2 = 1),
        |ca AS (SELECT label, dim, bucket, COUNT(*) AS cnt FROM va GROUP BY 1, 2, 3),
        |cb AS (SELECT label, dim, bucket, COUNT(*) AS cnt FROM vb GROUP BY 1, 2, 3),
        |na AS (SELECT label, dim, COUNT(*) AS n_a FROM va GROUP BY 1, 2),
        |nb AS (SELECT label, dim, COUNT(*) AS n_b FROM vb GROUP BY 1, 2),
        |grid AS (
        |  SELECT label, dim, g AS bucket
        |  FROM (SELECT DISTINCT label, dim FROM vm), generate_series(0, 15) t(g)),
        |terms AS (
        |  SELECT grid.label, grid.dim,
        |    COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b,
        |    CAST(COALESCE(ca.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(na.n_a, 0) + 16 AS DOUBLE) AS pa,
        |    CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(nb.n_b, 0) + 16 AS DOUBLE) AS pb
        |  FROM grid
        |  LEFT JOIN ca ON grid.label IS NOT DISTINCT FROM ca.label AND grid.dim = ca.dim
        |    AND grid.bucket = ca.bucket
        |  LEFT JOIN cb ON grid.label IS NOT DISTINCT FROM cb.label AND grid.dim = cb.dim
        |    AND grid.bucket = cb.bucket
        |  LEFT JOIN na ON grid.label IS NOT DISTINCT FROM na.label AND grid.dim = na.dim
        |  LEFT JOIN nb ON grid.label IS NOT DISTINCT FROM nb.label AND grid.dim = nb.dim)
        |SELECT label, dim, n_a, n_b,
        |  CAST(SUM(CAST(floor((pa - pb) * ln(pa / pb) * 1e6 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1, 2, 3, 4 ORDER BY label, dim""".stripMargin,

    // the q192 replay on the vector marginal: embedding[1] is DuckDB's
    // 1-based list index = Spark's element_at(_, 1); grid [-2^19, 2^19)
    // in 2^16-micro buckets
    "q197_embedding_drift" ->
      """WITH vm AS (
        |  SELECT vec_id, label,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
        |      AS v
        |  FROM embeddings),
        |va AS (SELECT label, LEAST(15, GREATEST(0, CAST(floor(
        |    (CAST(v AS DOUBLE) + 524288.0) / 65536.0) AS INTEGER))) AS bucket
        |  FROM vm WHERE vec_id % 2 = 0),
        |vb AS (SELECT label, LEAST(15, GREATEST(0, CAST(floor(
        |    (CAST(v AS DOUBLE) + 524288.0) / 65536.0) AS INTEGER))) AS bucket
        |  FROM vm WHERE vec_id % 2 = 1),
        |ca AS (SELECT label, bucket, COUNT(*) AS cnt FROM va GROUP BY 1, 2),
        |cb AS (SELECT label, bucket, COUNT(*) AS cnt FROM vb GROUP BY 1, 2),
        |na AS (SELECT label, COUNT(*) AS n_a FROM va GROUP BY 1),
        |nb AS (SELECT label, COUNT(*) AS n_b FROM vb GROUP BY 1),
        |grid AS (
        |  SELECT label, g AS bucket
        |  FROM (SELECT DISTINCT label FROM embeddings), generate_series(0, 15) t(g)),
        |terms AS (
        |  SELECT grid.label,
        |    COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b,
        |    CAST(COALESCE(ca.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(na.n_a, 0) + 16 AS DOUBLE) AS pa,
        |    CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(nb.n_b, 0) + 16 AS DOUBLE) AS pb
        |  FROM grid
        |  LEFT JOIN ca ON grid.label IS NOT DISTINCT FROM ca.label AND grid.bucket = ca.bucket
        |  LEFT JOIN cb ON grid.label IS NOT DISTINCT FROM cb.label AND grid.bucket = cb.bucket
        |  LEFT JOIN na ON grid.label IS NOT DISTINCT FROM na.label
        |  LEFT JOIN nb ON grid.label IS NOT DISTINCT FROM nb.label)
        |SELECT label, n_a, n_b,
        |  CAST(SUM(CAST(floor((pa - pb) * ln(pa / pb) * 1e6 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1, 2, 3 ORDER BY label""".stripMargin,

    // The PSI replay: dense 16-bucket grid per language (zero-count
    // buckets still carry smoothed mass), add-one proportions as single
    // double divisions, per-bucket term floor-rounded to 1e-6 units
    // BEFORE the sum — mirrors Drift.psiReport bit for bit.
    "q192_psi_drift" ->
      """WITH va AS (
        |  SELECT lang, LEAST(15, GREATEST(0, CAST(floor(
        |    CAST(n_chars AS DOUBLE) / 64.0) AS INTEGER))) AS bucket
        |  FROM documents WHERE doc_id % 2 = 0),
        |vb AS (
        |  SELECT lang, LEAST(15, GREATEST(0, CAST(floor(
        |    CAST(n_chars AS DOUBLE) / 64.0) AS INTEGER))) AS bucket
        |  FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT lang, bucket, COUNT(*) AS cnt FROM va GROUP BY 1, 2),
        |cb AS (SELECT lang, bucket, COUNT(*) AS cnt FROM vb GROUP BY 1, 2),
        |na AS (SELECT lang, COUNT(*) AS n_a FROM va GROUP BY 1),
        |nb AS (SELECT lang, COUNT(*) AS n_b FROM vb GROUP BY 1),
        |grid AS (
        |  SELECT lang, g AS bucket
        |  FROM (SELECT DISTINCT lang FROM documents), generate_series(0, 15) t(g)),
        |terms AS (
        |  SELECT grid.lang,
        |    COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b,
        |    CAST(COALESCE(ca.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(na.n_a, 0) + 16 AS DOUBLE) AS pa,
        |    CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(nb.n_b, 0) + 16 AS DOUBLE) AS pb
        |  FROM grid
        |  LEFT JOIN ca ON grid.lang IS NOT DISTINCT FROM ca.lang AND grid.bucket = ca.bucket
        |  LEFT JOIN cb ON grid.lang IS NOT DISTINCT FROM cb.lang AND grid.bucket = cb.bucket
        |  LEFT JOIN na ON grid.lang IS NOT DISTINCT FROM na.lang
        |  LEFT JOIN nb ON grid.lang IS NOT DISTINCT FROM nb.lang)
        |SELECT lang, n_a, n_b,
        |  CAST(SUM(CAST(floor((pa - pb) * ln(pa / pb) * 1e6 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin
  )
}
