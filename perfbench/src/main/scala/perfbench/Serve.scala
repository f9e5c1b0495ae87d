package perfbench

import graft.embed.Embedder
import graft.serve.HttpApi

/** `serve`: the reference's serving path. Set-up ingests and indexes the
  * corpus and starts `HttpApi` on an ephemeral port; then closed-loop
  * clients POST searches whose texts are drawn Zipf-skewed from a fixed
  * pool, so queries repeat.
  */
object Serve {
  val Docs = 2000
  val Clients = 2
  val PoolSize = 64
  val Limit = 10

  /** The mode cycle: 40% vector, 20% ann, 30% keyword, 10% fuzzy. Each
    * client sends half of it per group, client `c` starting at `c * Group`,
    * so the clients' groups together hold the whole cycle.
    */
  val Modes: Vector[String] = Vector("vector", "keyword", "vector", "ann", "keyword",
    "vector", "fuzzy", "ann", "keyword", "vector")
  val Group: Int = Modes.length / Clients

  private def mode(client: Int, i: Int): String = Modes((client * Group + i % Group) % Modes.length)

  def run(ctx: Ctx): Outcome = {
    val gen = new Gen(ctx.seed)
    val docs = gen.corpus(Docs)
    val b = Base.ingest(ctx, docs, indexed = true)
    val api = new HttpApi(b.catalog, b.registry, 0)
    val port = api.start()
    val setupS = ctx.elapsedS
    ctx.note("set-up")
    try {
      val ledger = new Ledger
      val keyOf = Base.checkStored(b.coll, docs, indexed = true, ledger)
      val textOf = docs.map(d => keyOf(d.marker) -> d.text).toMap
      val pool = gen.pool(PoolSize)
      val streams = Vector.tabulate(Clients)(c => gen.poolStream(pool, c, 100000))
      def request(c: Int, i: Int): (String, String) = {
        val m = mode(c, i)
        val q = streams(c)(i)
        m -> (if (m == "fuzzy") gen.typo(q, new scala.util.Random(q.hashCode)) else q)
      }
      warmUp(port, gen, b, keyOf, ledger)
      System.gc() // every run starts measuring on a collected heap
      ctx.note("warm-up")

      val clients = closedLoop(port, ctx.seconds)(request)
      val replies = clients.flatMap(_._1)
      replies.foreach(r => ctx.obs.record("serve.request", r.startNs, r.startNs + r.rttNs))
      ctx.note(s"${replies.length} requests")
      val probes = if (ctx.obs.tracing) directCalls(ctx, b, gen, pool) else Map.empty[String, Double]

      val vecs = Base.embedAll(b.emb, textOf, ctx.cpus)
      replies.foreach(r => checkReply(r, k => textOf.get(k).toSet, vecs, b.emb, ledger))
      ctx.note("checks")

      val seen = scala.collection.mutable.HashSet.empty[(String, String)]
      val repeats = replies.sortBy(_.startNs).count(r => !seen.add(r.mode -> r.query))
      val ann = replies.filter(r => r.ok && r.mode == "ann")
      val ok = replies.filter(_.ok)
      val stored = Base.dirBytes(new java.io.File(b.coll.dir)).toDouble
      Outcome(Map(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.median(replies.map(_.rttNs / 1e6)),
        // the clients' completion rates added up: each over its own time,
        // so the client that finishes its group last does not set the rate
        "throughput_per_s" -> clients.map(_._2).sum,
        "stored_bytes_per_input_byte" -> stored / b.inputBytes,
        "serve.requests" -> replies.length.toDouble,
        "serve.repeat_share" -> repeats.toDouble / replies.length,
        "serve.handler_ms" -> Stats.median(ok.map(_.serverSec * 1e3)),
        "serve.wait_ms" -> Stats.median(ok.map(r => r.rttNs / 1e6 - r.serverSec * 1e3)),
        "search.ann_recall_at_10" ->
          (if (ann.isEmpty) Double.NaN else ann.map(annRecall(_, b.emb, vecs)).sum / ann.length),
        "core.data_files" -> Base.dataFiles(b.coll),
        "core.stored_bytes" -> stored,
        "core.import_s" -> b.phases("core.import"),
        "sources.read_s" -> b.phases("sources.read"),
        "embed.docs_per_s" -> Docs / b.phases("embed.column"),
        "search.build_keyword_s" -> b.phases("search.build_keyword"),
        "search.build_ann_s" -> b.phases("search.build_ann"),
      ) ++ probes ++ Base.traced(ctx.obs), ledger)
    } finally api.stop()
  }

  /** Closed-loop clients: each sends its next request only after the
    * previous reply arrived, in groups of `Group` requests, and stops at
    * the first group boundary after `seconds`, so every run measures whole
    * mode cycles. Returns each client's replies and its requests per second
    * over its own time, from the start to its last reply.
    */
  private def closedLoop(port: Int, seconds: Int)
                        (next: (Int, Int) => (String, String)): Vector[(Vector[Reply], Double)] = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    Base.parallel(Clients) { c =>
      val http = new Http(port, Base.Name, Base.Column)
      val out = Vector.newBuilder[Reply]
      var i = 0
      while (i % Group != 0 || System.nanoTime() < deadline) {
        val (m, q) = next(c, i)
        out += http.search(m, q, Limit)
        i += 1
      }
      val replies = out.result()
      replies -> replies.length / ((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Untimed warm-up, so JIT and codegen are not charged to the first
    * measured sample: the four search paths called directly on the
    * collection, side by side, then one request per client through the
    * server. The keyword call queries a marker and the fuzzy call a
    * one-letter typo of another; each marker's document must come first.
    * A marker whose typo lies within edit distance 2 of another marker is
    * not used, since fuzzy correction could rightly pick the other one.
    */
  private def warmUp(port: Int, gen: Gen, b: Built, keyOf: Map[String, Long],
                     ledger: Ledger): Unit = {
    val rng = new scala.util.Random(b.docs.length)
    val all = b.docs.map(_.marker)
    val Vector((m1, _), (m2, typo)) = Iterator.continually(all(rng.nextInt(all.length)))
      .map(m => m -> gen.markerTypo(m, rng))
      .filter { case (m, t) => !all.exists(o => o != m && Check.levenshtein(o, t) <= 2) }
      .take(2).toVector
    val c = b.coll
    val col = Base.Column
    val q = b.docs.head.text.split(" ").take(4).mkString(" ")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Hit(r.getLong(1), r.getDouble(2), r.getString(0))).toSeq
    Base.parallel(4) {
      case 0 => c.search(col, q, Limit, b.emb).collect()
      case 1 => c.searchAnn(col, q, Limit, b.emb).collect()
      case 2 => ledger.check(s"keyword marker '$m1'")(
        Check.rankOne(hits(c.searchKeyword(col, m1, Limit)), keyOf(m1)))
      case _ => ledger.check(s"fuzzy marker '$typo'")(
        Check.rankOne(hits(c.searchKeywordFuzzy(col, typo, Limit)), keyOf(m2)))
    }
    Base.parallel(Clients)(_ => new Http(port, Base.Name, col).search("vector", q, Limit))
  }

  /** Checks one reply against what the benchmark knows: the envelope is
    * ok, hits carry their stored text in score order, vector pages equal
    * the brute-force top 10, ann hits score their true cosine, keyword
    * hits hold a query term.
    */
  private def checkReply(r: Reply, texts: Long => Set[String], vecs: collection.Map[Long, Array[Float]],
                 emb: Embedder, ledger: Ledger): Unit =
    ledger.check(s"${r.mode} '${r.query}'") {
      if (!r.ok) Some(s"HTTP ${r.status}: ${r.error}")
      else if (r.hits.length > Limit) Some(s"${r.hits.length} hits over limit $Limit")
      else Check.pageIntegrity(r.hits, texts).orElse {
        lazy val q = emb.embedOne(r.query)
        def score(k: Long) = vecs.get(k).map(Check.cosine(q, _))
        r.mode match {
          case "vector" => Check.exactPage(r.hits, Check.topK(q, vecs, Limit), score)
          case "ann" => r.hits.collectFirst {
            case h if !score(h.key).exists(s => math.abs(s - h.score) <= Check.ScoreTol) =>
              s"key ${h.key} scores ${score(h.key).getOrElse("nothing")}, page says ${h.score}"
          }
          case "keyword" => Check.keywordTerms(r.hits, r.query)
          case _ => None
        }
      }
    }

  /** Share of the exact top 10 that the ann page returned. */
  private def annRecall(r: Reply, emb: Embedder, vecs: collection.Map[Long, Array[Float]]): Double = {
    val exact = Check.topK(emb.embedOne(r.query), vecs, Limit).map(_._1).toSet
    if (exact.isEmpty) 1.0 else r.hits.count(h => exact.contains(h.key)).toDouble / exact.size
  }

  /** The traced run's direct calls: each serving step called on its own
    * on the most frequent pool query, results collected in full (the
    * cheap in-memory steps 20 times).
    */
  private def directCalls(ctx: Ctx, b: Built, gen: Gen, pool: Vector[String]): Map[String, Double] = {
    val obs = ctx.obs
    val c = b.coll
    val col = Base.Column
    val q = pool.head
    for (_ <- 1 to 20) {
      obs.call("core.load")(b.catalog.load(Base.Name))
      obs.call("embed.query")(b.emb.embedOne(q))
    }
    obs.call("search.exact", "exact")(c.search(col, q, Limit, b.emb).collect())
    obs.call("search.ann", "ann")(c.searchAnn(col, q, Limit, b.emb).collect())
    obs.call("search.keyword", "keyword")(c.searchKeyword(col, q, Limit).collect())
    obs.call("search.fuzzy", "fuzzy")(
      c.searchKeywordFuzzy(col, gen.typo(q, new scala.util.Random(q.hashCode)), Limit).collect())
    Seq("core.load", "embed.query", "search.exact", "search.ann", "search.keyword", "search.fuzzy")
      .map(s => s"${s}_ms" -> Stats.median(obs.durationsMs(s))).toMap
  }
}
