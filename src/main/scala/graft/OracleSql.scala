package graft

import graft.functions.TextFunctions

/** DuckDB-runnable SQL twins of every `SparkEntry.queries` entry (the
  * driver's correctness oracle). Lexicons and constants are interpolated
  * from the same Scala values the Spark operators use, so the two engines
  * can never drift.
  *
  * Column aliases MUST match the Spark output column names exactly — the
  * driver sorts columns by name before hashing values.
  */
object OracleSql {

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  private val pos = sqlList(TextFunctions.positiveWords)
  private val neg = sqlList(TextFunctions.negativeWords)

  /** The exact q99 bitext pipeline — shared verbatim by q99's oracle and
    * q99b's `n_exact` recount (a `def`: the map literal below must not
    * race object-init order). `pred` narrows the input for q99b's
    * id-bounded gate subsample.
    */
  private def q99BitextSql: String = q99BitextSqlWhere("")

  private def q99BitextSqlWhere(pred: String): String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, v -> v::DOUBLE) v
      |           FROM embeddings WHERE embedding IS NOT NULL$pred),
      |x AS (SELECT vec_id xid, v FROM e WHERE label < 5),
      |y AS (SELECT vec_id yid, v FROM e WHERE label >= 5),
      |s AS (SELECT xid, yid,
      |        round(list_dot_product(x.v, y.v)
      |          /(sqrt(list_dot_product(x.v,x.v))*sqrt(list_dot_product(y.v,y.v))),6) c
      |      FROM x CROSS JOIN y),
      |fk AS (SELECT * FROM (SELECT xid, yid, c,
      |         row_number() OVER (PARTITION BY xid ORDER BY c DESC, yid) r FROM s)
      |       WHERE r <= 4),
      |bk AS (SELECT * FROM (SELECT xid, yid, c,
      |         row_number() OVER (PARTITION BY yid ORDER BY c DESC, xid) r FROM s)
      |       WHERE r <= 4),
      |mx AS (SELECT xid, CAST(sum(CAST(c AS DECIMAL(9,6))) AS DOUBLE)/count(*) m
      |       FROM fk GROUP BY 1),
      |my AS (SELECT yid, CAST(sum(CAST(c AS DECIMAL(9,6))) AS DOUBLE)/count(*) m
      |       FROM bk GROUP BY 1),
      |cand AS (SELECT DISTINCT xid, yid, c FROM
      |          (SELECT xid, yid, c FROM fk UNION ALL SELECT xid, yid, c FROM bk)),
      |mg AS (SELECT xid, yid, round(c/((mx.m+my.m)/2),6) margin
      |       FROM cand JOIN mx USING (xid) JOIN my USING (yid)
      |       WHERE mx.m > 0 AND my.m > 0),
      |bx AS (SELECT * FROM (SELECT xid, yid, margin,
      |         row_number() OVER (PARTITION BY xid ORDER BY margin DESC, yid) r
      |       FROM mg) WHERE r = 1),
      |by2 AS (SELECT * FROM (SELECT xid, yid,
      |         row_number() OVER (PARTITION BY yid ORDER BY margin DESC, xid) r
      |       FROM mg) WHERE r = 1)
      |SELECT bx.xid x_id, bx.yid y_id, bx.margin
      |FROM bx JOIN by2 ON bx.xid = by2.xid AND bx.yid = by2.yid
      |WHERE bx.margin >= 1.0""".stripMargin

  /** q56's twin, generated per (column, kind) exactly like Profile builds
    * its aggregates: every "val" a DOUBLE, fractional means through
    * DECIMAL(28,6), integral/length sums exact.
    */
  private def profileSql(table: String, cols: Seq[(String, String)]): String =
    cols.flatMap { case (c, kind) =>
      val base = Seq(
        s"""SELECT '$c' col_name, 'n_nulls' metric,
           |  CAST(count(*) - count($c) AS DOUBLE) "val" FROM $table""",
        s"""SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE) FROM $table""")
      val typed = kind match {
        case "int" => Seq(
          s"SELECT '$c', 'min', CAST(min($c) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'max', CAST(max($c) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'mean', round(CAST(sum($c) AS DOUBLE) / count($c), 6) FROM $table")
        case "frac" => Seq(
          s"SELECT '$c', 'min', CAST(min($c) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'max', CAST(max($c) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'mean', round(CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE)" +
            s" / count($c), 6) FROM $table")
        case "str" => Seq(
          s"SELECT '$c', 'min_len', CAST(min(len($c)) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'max_len', CAST(max(len($c)) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'mean_len', round(CAST(sum(len($c)) AS DOUBLE) / count($c), 6) FROM $table")
        case "ts" => Seq(
          s"SELECT '$c', 'min_us', CAST(epoch_us(min($c)) AS DOUBLE) FROM $table",
          s"SELECT '$c', 'max_us', CAST(epoch_us(max($c)) AS DOUBLE) FROM $table")
      }
      base ++ typed
    }.mkString("\nUNION ALL\n").stripMargin
  private val stop = sqlList(TextFunctions.stopWords)

  private val sentimentCase =
    s"""CASE
       |  WHEN len(list_filter(string_split(text,' '), t -> t IN $pos))
       |     > len(list_filter(string_split(text,' '), t -> t IN $neg)) THEN 'positive'
       |  WHEN len(list_filter(string_split(text,' '), t -> t IN $neg))
       |     > len(list_filter(string_split(text,' '), t -> t IN $pos)) THEN 'negative'
       |  ELSE 'na' END""".stripMargin

  /** Distinct word-3-gram shingles per doc (twin of TextFunctions.shingles)
    * over an arbitrary source relation — CTE body only, so callers can
    * chain it after their own CTEs.
    */
  private def shingleCtesOver(src: String): String =
    s"""t AS (SELECT doc_id, string_split(text,' ') toks FROM $src),
       |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
       |       for i in range(1, greatest(len(toks)-1,1))]) sh FROM t)""".stripMargin

  private val shingleCte = "WITH " + shingleCtesOver("documents")

  private def jaccardPairCteOver(src: String): String =
    s"""${shingleCtesOver(src)},
       |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
       |  round(len(list_intersect(a.sh,b.sh))::DOUBLE
       |    /(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))),4) jaccard
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)""".stripMargin

  private val jaccardPairs =
    s"""WITH ${jaccardPairCteOver("documents")}
       |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.7""".stripMargin

  /** 60-bit simhash per doc, exact twin of HashKernels.tokenHash60/simHash64:
    * two 30-bit polynomial hashes per token (the list_reduce starts from the
    * first char, which equals 0*base+c1, so the fold matches the kernel).
    */
  private val simhashCte =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |h AS (SELECT doc_id, len(toks) n,
      |  [ (list_reduce(list_transform(string_split(tok,''), c -> ascii(c)::BIGINT),
      |       (a,b) -> (a*31+b)%1000000007) & 1073741823) * 1073741824
      |  + (list_reduce(list_transform(string_split(tok,''), c -> ascii(c)::BIGINT),
      |       (a,b) -> (a*131+b)%1000000009) & 1073741823)
      |    for tok in toks] hs FROM t),
      |f AS (SELECT doc_id, CAST(list_sum(
      |  [CASE WHEN 2*len(list_filter(hs, x -> (x >> i) & 1 = 1)) > n
      |        THEN (1::BIGINT << i) ELSE 0::BIGINT END for i in range(0,60)]) AS BIGINT) sim
      |FROM h)""".stripMargin

  /** [[simhashCte]] with DISTINCT 3-gram shingle features instead of
    * word-token features (q22b): same two polynomial hashes over the
    * space-joined shingle string; the majority denominator is the distinct
    * shingle count (the Spark kernel feeds `ShingleSet` output, which is
    * distinct by construction). Docs with no shingle have no signature.
    */
  private val shingledSimhashCte =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
      |       for i in range(1, greatest(len(toks)-1,1))]) sh FROM t),
      |h AS (SELECT doc_id, len(sh) n,
      |  [ (list_reduce(list_transform(string_split(tok,''), c -> ascii(c)::BIGINT),
      |       (a,b) -> (a*31+b)%1000000007) & 1073741823) * 1073741824
      |  + (list_reduce(list_transform(string_split(tok,''), c -> ascii(c)::BIGINT),
      |       (a,b) -> (a*131+b)%1000000009) & 1073741823)
      |    for tok in sh] hs FROM s WHERE len(sh) > 0),
      |f AS (SELECT doc_id, CAST(list_sum(
      |  [CASE WHEN 2*len(list_filter(hs, x -> (x >> i) & 1 = 1)) > n
      |        THEN (1::BIGINT << i) ELSE 0::BIGINT END for i in range(0,60)]) AS BIGINT) sim
      |FROM h)""".stripMargin

  private val cosineCte =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings)"""

  /** The q85/q94 retrieval legs (shared): dense cosine rank list `dr`
    * (qid, id, rank_d) and lexical BM25 rank list `lr` (qid, id, s,
    * rank_l), both top-20 per query with rounded-score + id tiebreak
    * ranking. The BM25 term expression is written operation-for-operation
    * like q82's; n/tt ride the one-row cross join into the GROUP BY.
    */
  private val hybridLegsCte =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v
      |           FROM embeddings),
      |co AS (SELECT e.vec_id, e.v FROM e
      |       JOIN documents d ON d.doc_id = e.vec_id AND d.text IS NOT NULL),
      |ds AS (SELECT q.vec_id qid, c.vec_id id,
      |    round(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) score
      |  FROM co q JOIN co c ON c.vec_id != q.vec_id WHERE q.vec_id < 10),
      |dr AS (SELECT qid, id,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) rank_d
      |       FROM ds QUALIFY rank_d <= 20),
      |t AS (SELECT doc_id, string_split(text, ' ') toks
      |      FROM documents WHERE text IS NOT NULL),
      |dq AS (SELECT doc_id, unnest(list_distinct(toks)) term FROM t),
      |dft AS (SELECT term, count(*)::BIGINT df FROM dq GROUP BY 1),
      |qt AS (SELECT doc_id qid, term, df,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY df, term) rn
      |       FROM dq JOIN dft USING (term) WHERE doc_id < 10 QUALIFY rn <= 16),
      |st AS (SELECT count(*)::BIGINT n, sum(len(toks))::BIGINT tt FROM t),
      |po AS (SELECT doc_id, len(toks)::BIGINT dl, unnest(toks) term FROM t),
      |pc AS (SELECT doc_id, term, count(*)::BIGINT tf, max(dl) dl FROM po GROUP BY 1, 2),
      |ls AS (SELECT qt.qid, pc.doc_id id,
      |    round(sum(ln(1.0 + (n - qt.df + 0.5) / (qt.df + 0.5))
      |      * (tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + 0.75 * dl * n / tt))), 4) s
      |  FROM pc JOIN qt USING (term) CROSS JOIN st
      |  WHERE pc.doc_id != qt.qid GROUP BY qt.qid, pc.doc_id, n, tt),
      |lr AS (SELECT qid, id, s,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) rank_l
      |       FROM ls QUALIFY rank_l <= 20)""".stripMargin

  /** Unrolled deterministic Lloyd iterations on the 6-dp long grid (q86):
    * c0 = the vectors of the k smallest ids (cluster = id rank); each
    * iteration assigns by EXACT integer squared distance (ties to the
    * smallest cluster) and re-rounds the per-dimension member mean back
    * onto the grid; an emptied cluster keeps its previous centroid via
    * the anti-join UNION — step for step the Spark driver loop.
    * Leaves `f` (vec_id, dim, v grid longs) and `fw` (vec_id, cl, d =
    * exact grid distance under the final centroids) in scope.
    */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val init =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT)) v6
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |f AS (SELECT vec_id, generate_subscripts(v6,1) dim, unnest(v6) v FROM e),
         |c0 AS (SELECT CAST(row_number() OVER (PARTITION BY dim ORDER BY vec_id) - 1 AS INT) cl,
         |    dim, v c
         |  FROM f WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""a$i AS (SELECT f.vec_id, c.cl, sum((f.v - c.c)*(f.v - c.c)) d
         |  FROM f JOIN c${i - 1} c USING (dim) GROUP BY 1, 2),
         |w$i AS (SELECT vec_id, cl FROM a$i
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1),
         |m$i AS (SELECT w.cl, f.dim,
         |    CAST(round(CAST(sum(f.v) AS DOUBLE)/count(*)) AS BIGINT) c
         |  FROM w$i w JOIN f USING (vec_id) GROUP BY 1, 2),
         |c$i AS (SELECT * FROM m$i UNION ALL
         |  SELECT * FROM c${i - 1} WHERE cl NOT IN (SELECT cl FROM m$i))""".stripMargin
    }
    val fin =
      s"""fa AS (SELECT f.vec_id, c.cl, sum((f.v - c.c)*(f.v - c.c)) d
         |  FROM f JOIN c$iters c USING (dim) GROUP BY 1, 2),
         |fw AS (SELECT vec_id, cl, d FROM fa
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1)""".stripMargin
    (init +: steps :+ fin).mkString(",\n")
  }

  /** q114's twin: the batch perceptron unrolled per iteration (the q86
    * Lloyd discipline — all-LONG scores/updates are a pure function of
    * the training multiset, so the unrolled SQL reproduces every weight
    * vector bit-for-bit). Featurization = the q90 gram-hash CTEs plus an
    * always-on bias feature b = `buckets`. MATERIALIZED where a CTE feeds
    * every iteration (the q34 re-evaluation trap).
    */
  private def perceptronCtes(
      buckets: Int, iters: Int,
      rel: String = "documents", p: String = "", lead: String = "WITH ",
      isTrainSql: String = "doc_id % 2 = 0"): String = {
    val init =
      s"""$lead${p}t AS MATERIALIZED (SELECT doc_id, string_split(text,' ') toks
         |  FROM $rel WHERE text IS NOT NULL),
         |${p}lbl AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN len(toks) >= 30 AND len(list_filter(toks, x -> x IN
         |      ('the','a','of','to','and','in','is','on'))) >= 2
         |    THEN 1 ELSE -1 END y,
         |    $isTrainSql is_train FROM ${p}t),
         |${p}gm AS (SELECT doc_id, unnest(list_concat(toks,
         |    [toks[i] || ' ' || toks[i+1]
         |     for i in range(1, greatest(len(toks),1))])) gram FROM ${p}t),
         |${p}fx AS (SELECT doc_id,
         |    CAST(list_reduce(list_transform(string_split(gram,''),
         |        c -> ascii(c)::BIGINT), (a,b) -> (a*31+b)%1000000007)
         |      % $buckets AS INT) b FROM ${p}gm),
         |${p}dc AS MATERIALIZED (
         |  SELECT doc_id, b, count(*)::BIGINT cnt FROM ${p}fx GROUP BY 1, 2
         |  UNION ALL SELECT doc_id, $buckets, 1 FROM ${p}t),
         |${p}w0 AS (SELECT unnest(range(0, ${buckets + 1}))::INT b, 0::BIGINT w)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${p}s$i AS MATERIALIZED (SELECT d.doc_id, l.y, sum(w.w * d.cnt)::BIGINT sc
         |  FROM ${p}dc d JOIN ${p}lbl l USING (doc_id) JOIN ${p}w${i - 1} w ON w.b = d.b
         |  WHERE l.is_train GROUP BY 1, 2),
         |${p}u$i AS (SELECT d.b, sum(l.y * d.cnt)::BIGINT gr
         |  FROM ${p}dc d JOIN ${p}lbl l USING (doc_id) JOIN ${p}s$i s ON s.doc_id = d.doc_id
         |  WHERE s.y * s.sc <= 0 GROUP BY 1),
         |${p}w$i AS MATERIALIZED (SELECT q.b, q.w + coalesce(u.gr, 0) w
         |  FROM ${p}w${i - 1} q LEFT JOIN ${p}u$i u USING (b))""".stripMargin
    }
    // Pocket pick (Gallant 1990, exactly the Spark loop): err_t = the
    // misclassified-train count under w_t (scored by s_{t+1}; one extra
    // scoring CTE covers the last iterate), winner = smallest err,
    // earliest t on ties.
    val lastScore =
      s"""${p}s${iters + 1} AS (SELECT d.doc_id, l.y, sum(w.w * d.cnt)::BIGINT sc
         |  FROM ${p}dc d JOIN ${p}lbl l USING (doc_id) JOIN ${p}w$iters w ON w.b = d.b
         |  WHERE l.is_train GROUP BY 1, 2)""".stripMargin
    val errs = (1 to iters + 1)
      .map(i => s"SELECT ${i - 1} t, count(*) FILTER (WHERE y * sc <= 0) c FROM ${p}s$i")
      .mkString(s"${p}es AS (", " UNION ALL ", ")")
    val ws = (0 to iters)
      .map(i => s"SELECT $i t, b, w FROM ${p}w$i")
      .mkString(s"${p}ws AS (", " UNION ALL ", ")")
    val fin =
      s"""$lastScore,
         |$errs,
         |$ws,
         |${p}tb AS (SELECT t FROM ${p}es ORDER BY c, t LIMIT 1),
         |${p}wb AS (SELECT b, w FROM ${p}ws JOIN ${p}tb USING (t)),
         |${p}fsc AS (SELECT d.doc_id, sum(w.w * d.cnt)::BIGINT score
         |  FROM ${p}dc d JOIN ${p}wb w ON w.b = d.b GROUP BY 1)""".stripMargin
    (init +: steps :+ fin).mkString(",\n")
  }

  /** q103's twin: the purchase-graph PageRank unrolled per iteration (the
    * q86 Lloyd discipline — the all-LONG fixpoint is a pure function of
    * the edge multiset, so the unrolled SQL reproduces every iterate
    * bit-for-bit). MATERIALIZED because DuckDB re-evaluates plain CTEs
    * per reference (the q34 trap) — each r_k feeds both c_{k+1} and
    * r_{k+1}.
    */
  private def pageRankSql(iters: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |d AS MATERIALIZED (SELECT src AS node, count(*)::BIGINT AS deg
        |  FROM e GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM d),
        |r0 AS MATERIALIZED (SELECT node, (1000000000000 // nn.n)::BIGINT AS pr
        |  FROM d, nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS node, sum(r.pr // d.deg)::BIGINT AS s
         |  FROM e JOIN r${k - 1} r ON e.src = r.node JOIN d ON e.src = d.node
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT d.node,
         |    ((15000000000000 // (100*nn.n))
         |      + (85*coalesce(c.s, 0)) // 100)::BIGINT AS pr
         |  FROM d CROSS JOIN nn LEFT JOIN c$k c ON d.node = c.node)""".stripMargin
    }
    val tail =
      s"""SELECT node // 2 AS entity_key,
         |  CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
         |  pr AS pr_e12, ((pr // 1000000)::DOUBLE / 1000000.0) AS pr
         |FROM r$iters""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** q76b's twin: greedy BPE APPLY replayed in SQL. Each distinct word's
    * symbol list lives as a chr(2)-DELIMITED string ("\2s1\2\2s2\2…" —
    * every symbol wrapped in its own separators, so a pair pattern
    * "\2a\2\2b\2" can never match across a longer symbol's boundary, and
    * `replace`'s continue-after-replacement scan IS the Scala kernel's
    * left-to-right all-occurrences fuse, double separators keeping the
    * next occurrence's leading delimiter intact). Per recursion step: find
    * the lowest-rank adjacent pair (list_position over the rank-ordered
    * pair list; 0 = absent), fuse all its occurrences, stop when no merge
    * applies; the final iterate per word is the max-step row. Verified
    * symbol-for-symbol against [[graft.functions.Bpe.segmentWord]]'s
    * semantics; the merge literal interpolates from
    * [[graft.functions.Bpe.DemoMerges]] so the engines cannot drift.
    * `join_ok` is pinned TRUE (a Spark-internal join invariant);
    * `roundtrip_ok` is genuinely recomputed (separator-stripped enc = w).
    */
  private def bpeApplySql(merges: Seq[(String, String)]): String = {
    val pairsLit = merges
      .map { case (a, b) => s"'$a' || chr(1) || '$b'" }.mkString("[", ", ", "]")
    s"WITH RECURSIVE\npl AS (SELECT $pairsLit ps),\n$bpeSegCtes\n" +
      "SELECT doc_id, n_tokens, n_bpe_tokens, roundtrip_ok, join_ok, fertility_ok FROM toks"
  }

  /** q76/q92's twin (r10): the TRAIN step unrolled — the last two
    * rows-only queries get a full value oracle. The greedy merge loop has
    * no FIXPOINT SQL form, but the registered queries train a FIXED
    * k = 50 rounds, and a bounded iteration count unrolls (the q114/q103
    * precedent): round i's CTEs compute adjacent-pair counts from state
    * s(i-1) (per POSITION, weighted by word count — "aaa" counts (a,a)
    * twice, matching the Scala trainer), pick the best pair by
    * (count DESC, a, b) — exactly `minBy((-c, a, b))` — and fuse all its
    * occurrences left-to-right with the chr(2)-delimited `replace` trick
    * shared with [[bpeApplySql]]. `AS MATERIALIZED` is load-bearing:
    * p(i) and s(i) both reference s(i-1), so un-materialized CTE
    * inlining would expand the chain EXPONENTIALLY (measured: "too many
    * open files" from 2^50 parquet scans). A round with no remaining
    * pairs yields an empty b(i) and passes state through unchanged —
    * the trainer's early-stop. The learned (a, b, rank) rows then feed
    * the [[bpeApplySql]] recursion verbatim (`pl` built by list() in
    * rank order instead of a literal), so the apply semantics cannot
    * drift between the fixed-merge and trained paths. Training state is
    * vocab-sized (the corpus's 31-word synthetic vocabulary; LIMIT
    * maxVocab mirrors the Scala driver-honesty cut), so 50 unrolled
    * rounds stay trivially cheap in the checker.
    */
  private def bpeTrainCtes(k: Int, maxVocab: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (SELECT w, c, chr(2) || array_to_string(
         |    [ch FOR ch IN string_split(w, '')], chr(2) || chr(2)) || chr(2) enc
         |  FROM (SELECT w, count(*)::BIGINT c
         |    FROM (SELECT unnest(string_split(text, ' ')) w FROM documents
         |      WHERE text IS NOT NULL) WHERE w <> ''
         |    GROUP BY 1 ORDER BY c DESC, w LIMIT $maxVocab))""".stripMargin
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (SELECT string_split(pr, chr(1))[1] a,
         |    string_split(pr, chr(1))[2] b, sum(c) cnt
         |  FROM (SELECT c, unnest([syms[i] || chr(1) || syms[i+1]
         |      FOR i IN range(1, len(syms))]) pr
         |    FROM (SELECT c, string_split(substr(enc, 2, length(enc) - 2),
         |      chr(2) || chr(2)) syms FROM s$p))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS MATERIALIZED (SELECT w, c, CASE WHEN bb.a IS NULL THEN enc
         |    ELSE replace(enc, chr(2) || bb.a || chr(2) || chr(2) || bb.b || chr(2),
         |      chr(2) || bb.a || bb.b || chr(2)) END enc
         |  FROM s$p LEFT JOIN b$i bb ON TRUE)""".stripMargin
    }
    val tm = (1 to k).map(i => s"SELECT a, b, $i rnk FROM b$i").mkString(" UNION ALL ")
    (s0 +: rounds).mkString(",\n") +
      s",\ntm AS ($tm),\npl AS (SELECT list(a || chr(1) || b ORDER BY rnk) ps FROM tm)"
  }

  /** Shared apply-side CTEs (segment every distinct word under `pl`'s
    * rank-ordered merges, join back to occurrences) — the
    * [[bpeApplySql]] recursion, factored so the trained twins reuse it.
    */
  private val bpeSegCtes: String =
    s"""w0 AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) w
       |  FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
       |seg(w, enc, step) AS (
       |  SELECT w, chr(2) || array_to_string([c for c in string_split(w, '')],
       |    chr(2) || chr(2)) || chr(2), 0 FROM w0
       |  UNION ALL
       |  SELECT w,
       |    replace(enc,
       |      chr(2) || string_split(ps[br], chr(1))[1] || chr(2) || chr(2)
       |        || string_split(ps[br], chr(1))[2] || chr(2),
       |      chr(2) || string_split(ps[br], chr(1))[1]
       |        || string_split(ps[br], chr(1))[2] || chr(2)),
       |    step + 1
       |  FROM (
       |    SELECT w, enc, step, ps,
       |      list_min(list_filter([list_position(ps, syms[i] || chr(1) || syms[i+1])
       |        for i in range(1, len(syms))], x -> x > 0)) br
       |    FROM (SELECT w, enc, step,
       |        string_split(substr(enc, 2, length(enc) - 2), chr(2) || chr(2)) syms
       |      FROM seg), pl)
       |  WHERE br IS NOT NULL),
       |fin AS (SELECT w,
       |    len(string_split(substr(enc, 2, length(enc) - 2), chr(2) || chr(2)))::BIGINT n_bpe,
       |    replace(enc, chr(2), '') = w rt
       |  FROM seg QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1),
       |occ AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) w
       |  FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
       |toks AS (SELECT doc_id, count(*)::BIGINT n_tokens, sum(n_bpe)::BIGINT n_bpe_tokens,
       |    bool_and(rt) roundtrip_ok, TRUE join_ok,
       |    sum(n_bpe)::BIGINT >= count(*) fertility_ok
       |  FROM occ JOIN fin USING (w) GROUP BY 1)""".stripMargin

  /** q76's full twin: train k merges, then apply. */
  private def bpeTrainedTokenizeSql(k: Int, maxVocab: Int): String =
    s"WITH RECURSIVE\n${bpeTrainCtes(k, maxVocab)},\n$bpeSegCtes\n" +
      "SELECT doc_id, n_tokens, n_bpe_tokens, roundtrip_ok, join_ok, fertility_ok FROM toks"

  /** q92's full twin: the fertility rollup over the trained tokenizer. */
  private def bpeTrainedFertilitySql(k: Int, maxVocab: Int): String =
    s"WITH RECURSIVE\n${bpeTrainCtes(k, maxVocab)},\n$bpeSegCtes\n" +
      s"""SELECT slice, count(*)::BIGINT n_docs, sum(n_tokens)::BIGINT n_words,
         |  sum(n_bpe_tokens)::BIGINT n_bpe_tokens,
         |  round(sum(n_bpe_tokens)::DOUBLE / sum(n_tokens), 4) fertility,
         |  bool_and(roundtrip_ok AND join_ok) roundtrip_ok,
         |  bool_and(fertility_ok)
         |    AND round(sum(n_bpe_tokens)::DOUBLE / sum(n_tokens), 4) >= 1.0 fertility_ok
         |FROM toks JOIN (SELECT doc_id, coalesce(source, '(null)') slice
         |  FROM documents) USING (doc_id)
         |GROUP BY 1""".stripMargin

  // q117's twin: the 56-bit dHash recomputed from the deterministic
  // container geometry (the q40 discipline — the raster is the text's
  // bytes zero-padded to 3wh; ASCII corpus, so ascii(char) = the byte),
  // then brute-force Hamming pairs. Cell membership, cross-multiplied
  // gradient compares and the bit layout mirror
  // Multimodal.perceptualHash operation-for-operation, all-integer.
  private def imagePhashPairsSqlOver(src: String): String =
      s"""WITH b AS (SELECT doc_id, text, length(text)::BIGINT n,
        |    (16 + length(text) % 49)::BIGINT w
        |  FROM $src WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, text, n, w,
        |    greatest(1, (n + 3*w - 1) // (3*w))::BIGINT h FROM b),
        |px AS (SELECT doc_id, w, h,
        |  [CASE WHEN 3*k < n THEN ascii(text[(3*k+1)::INT]) ELSE 0 END
        |   + CASE WHEN 3*k+1 < n THEN ascii(text[(3*k+2)::INT]) ELSE 0 END
        |   + CASE WHEN 3*k+2 < n THEN ascii(text[(3*k+3)::INT]) ELSE 0 END
        |   for k in range(0, w*h)] lum FROM d),
        |cs AS (SELECT doc_id,
        |  [list_sum([CASE WHEN ((k//w)*8//h)*8 + ((k%w)*8//w) = ci
        |     THEN lum[(k+1)::INT]::BIGINT ELSE 0::BIGINT END
        |     for k in range(0, w*h)]) for ci in range(0,64)] s,
        |  [list_sum([CASE WHEN ((k//w)*8//h)*8 + ((k%w)*8//w) = ci
        |     THEN 1::BIGINT ELSE 0::BIGINT END
        |     for k in range(0, w*h)]) for ci in range(0,64)] cnt
        | FROM px),
        |f AS (SELECT doc_id, CAST(list_sum([
        |  CASE WHEN s[((i//7)*8 + (i%7) + 1)::INT] * cnt[((i//7)*8 + (i%7) + 2)::INT]
        |         > s[((i//7)*8 + (i%7) + 2)::INT] * cnt[((i//7)*8 + (i%7) + 1)::INT]
        |       THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END
        |  for i in range(0,56)]) AS BIGINT) ph FROM cs)
        |SELECT a.doc_id id_a, b.doc_id id_b,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 4""".stripMargin

  private val imagePhashPairsSql = imagePhashPairsSqlOver("documents")

  // q119's twin: the 56-bit audio envelope hash recomputed from the
  // deterministic container geometry (mono even ids / stereo odd,
  // 16-bit LE PCM over the text bytes zero-padded to a frame boundary —
  // so the sample count ns = ceil(n / 2ch)·ch; ASCII corpus so
  // ascii(char) = the byte and every sample is non-negative — |s| = s).
  // The interleaved rectified sample stream, 57-window cell map,
  // cross-multiplied gradient compares and the bit layout mirror
  // Multimodal.envelopeOf/gradientHash operation-for-operation.
  private def audioFpPairsSqlOver(src: String): String =
      s"""WITH b AS (SELECT doc_id, text, length(text)::BIGINT n,
        |    (1 + doc_id % 2)::BIGINT ch
        |  FROM $src WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, text, n,
        |    (((n + 2*ch - 1) // (2*ch)) * ch)::BIGINT ns FROM b),
        |mx AS (SELECT doc_id, ns, [
        |    (CASE WHEN 2*m < n THEN ascii(text[(2*m+1)::INT]) ELSE 0 END)
        |    + 256*(CASE WHEN 2*m+1 < n THEN ascii(text[(2*m+2)::INT]) ELSE 0 END)
        |    for m in range(0, ns)] mix FROM d),
        |cs AS (SELECT doc_id,
        |  [list_sum([CASE WHEN m*57//ns = wi THEN mix[(m+1)::INT]::BIGINT
        |     ELSE 0::BIGINT END for m in range(0, ns)]) for wi in range(0,57)] s,
        |  [list_sum([CASE WHEN m*57//ns = wi THEN 1::BIGINT
        |     ELSE 0::BIGINT END for m in range(0, ns)]) for wi in range(0,57)] cnt
        | FROM mx),
        |f AS (SELECT doc_id, CAST(coalesce(list_sum([
        |  CASE WHEN s[(i+1)::INT] * cnt[(i+2)::INT]
        |         > s[(i+2)::INT] * cnt[(i+1)::INT]
        |       THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END
        |  for i in range(0,56)]), 0) AS BIGINT) ph FROM cs)
        |SELECT a.doc_id id_a, b.doc_id id_b,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 4""".stripMargin

  private val audioFpPairsSql = audioFpPairsSqlOver("documents")

  // q120's twin: the 56-bit video fingerprint — frame table nfr =
  // n div 64 + 1 (the container's stsz), every 10th frame sampled, the
  // hash sequence = the sampled frames' byte stream (step i reads
  // payload byte 640·(i div 64) + (i mod 64), 0 past the payload);
  // then the same 57-window gradient as q119.
  private def videoFpPairsSqlOver(src: String): String =
      s"""WITH b AS (SELECT doc_id, text, length(text)::BIGINT n
        |  FROM $src WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, text, n,
        |    (((n // 64 + 1 + 9) // 10) * 64)::BIGINT L FROM b),
        |sq AS (SELECT doc_id, L, [
        |    CASE WHEN 640*(i//64) + (i%64) < n
        |         THEN ascii(text[(640*(i//64) + (i%64) + 1)::INT])
        |         ELSE 0 END
        |    for i in range(0, L)] v FROM d),
        |cs AS (SELECT doc_id,
        |  [list_sum([CASE WHEN i*57//L = wi THEN v[(i+1)::INT]::BIGINT
        |     ELSE 0::BIGINT END for i in range(0, L)]) for wi in range(0,57)] s,
        |  [list_sum([CASE WHEN i*57//L = wi THEN 1::BIGINT
        |     ELSE 0::BIGINT END for i in range(0, L)]) for wi in range(0,57)] cnt
        | FROM sq),
        |f AS (SELECT doc_id, CAST(coalesce(list_sum([
        |  CASE WHEN s[(i+1)::INT] * cnt[(i+2)::INT]
        |         > s[(i+2)::INT] * cnt[(i+1)::INT]
        |       THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END
        |  for i in range(0,56)]), 0) AS BIGINT) ph FROM cs)
        |SELECT a.doc_id id_a, b.doc_id id_b,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 4""".stripMargin

  private val videoFpPairsSql = videoFpPairsSqlOver("documents")

  val sql: Map[String, String] = Map(

    "q76_bpe_tokenize" -> bpeTrainedTokenizeSql(50, 100000),

    "q92_bpe_fertility" -> bpeTrainedFertilitySql(50, 100000),

    "q76b_bpe_apply" -> bpeApplySql(graft.functions.Bpe.DemoMerges),

    "q117_image_phash" -> imagePhashPairsSql,
    // the capped variant is LOSSLESS by contract: same twin as q117
    "q117b_image_phash_capped" -> imagePhashPairsSql,
    "q119_audio_fingerprint" -> audioFpPairsSql,
    "q120_video_fingerprint" -> videoFpPairsSql,

    // q121's twin: union the four pair twins into one signal-tagged edge
    // list, min-label fixpoint (q34's recursive CTE), then per-component
    // signal and size rollups. Every state-carrying CTE referenced twice
    // is MATERIALIZED (the exponential-inlining trap).
    "q121_crossmodal_clusters" ->
      s"""WITH RECURSIVE
         |  pr AS MATERIALIZED (
         |    SELECT id_a, id_b, 'text' signal FROM ($jaccardPairs) tq
         |    UNION ALL SELECT id_a, id_b, 'image' FROM ($imagePhashPairsSql) iq
         |    UNION ALL SELECT id_a, id_b, 'audio' FROM ($audioFpPairsSql) aq
         |    UNION ALL SELECT id_a, id_b, 'video' FROM ($videoFpPairsSql) vq),
         |  edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |            UNION ALL SELECT id_b, id_a FROM pr),
         |  cc(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b
         |  ),
         |  comp AS MATERIALIZED (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |  sig AS (SELECT c.component,
         |      array_to_string(list_sort(list_distinct(list(p.signal))), ',') signals
         |    FROM pr p JOIN comp c ON c.id = p.id_a GROUP BY 1),
         |  sz AS (SELECT component, count(*) n_members FROM comp GROUP BY 1)
         |SELECT comp.id doc_id, comp.component, sz.n_members, sig.signals
         |FROM comp JOIN sz USING (component) JOIN sig USING (component)""".stripMargin,

    "q103_pagerank" -> pageRankSql(5),

    "q01_filter_project" ->
      """SELECT doc_id, text, n_chars FROM documents
        |WHERE lang = 'en' AND NOT starts_with(text, 'the ')""".stripMargin,

    "q02_sentiment" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split(text,' '), t -> t IN $pos))::BIGINT n_pos,
         |  len(list_filter(string_split(text,' '), t -> t IN $neg))::BIGINT n_neg,
         |  $sentimentCase sentiment
         |FROM documents""".stripMargin,

    // CCNet-style LM quality scoring: add-one bigram model trained on the
    // even-id half, scoring the odd-id half. Prefix counts (not token
    // counts) normalize the conditional; ln sums round 4 dp (q61 rule)
    // and ppl = exp of the ROUNDED entropy so both engines cut identically
    "q67_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |bg AS (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
        |    for i in range(1, len(toks))], recursive := true) FROM t),
        |refbg AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |refug AS (SELECT w1, count(*) c1 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1),
        |v AS (SELECT count(DISTINCT u)::DOUBLE v
        |  FROM (SELECT unnest(toks) u FROM t WHERE doc_id % 2 = 0)),
        |s AS (SELECT b.doc_id, ln((coalesce(c12, 0) + 1)::DOUBLE / (coalesce(c1, 0) + v)) lnp
        |  FROM bg b LEFT JOIN refbg USING (w1, w2) LEFT JOIN refug USING (w1) CROSS JOIN v
        |  WHERE b.doc_id % 2 = 1),
        |h AS (SELECT doc_id, count(*)::BIGINT n_bigrams,
        |    round(-sum(lnp) / count(*), 4) cross_entropy
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, cross_entropy, round(exp(cross_entropy), 2) ppl FROM h""".stripMargin,

    // CCNet's band decision on q67's scores: per-source head/middle/tail
    // at the source's own exact 1/3 / 2/3 ppl quantiles, cuts rounded 6dp
    // (the winsorize rule) before the <= comparisons
    "q68_perplexity_bands" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |bg AS (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
        |    for i in range(1, len(toks))], recursive := true) FROM t),
        |refbg AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |refug AS (SELECT w1, count(*) c1 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1),
        |v AS (SELECT count(DISTINCT u)::DOUBLE v
        |  FROM (SELECT unnest(toks) u FROM t WHERE doc_id % 2 = 0)),
        |s AS (SELECT b.doc_id, ln((coalesce(c12, 0) + 1)::DOUBLE / (coalesce(c1, 0) + v)) lnp
        |  FROM bg b LEFT JOIN refbg USING (w1, w2) LEFT JOIN refug USING (w1) CROSS JOIN v
        |  WHERE b.doc_id % 2 = 1),
        |h AS (SELECT doc_id, round(-sum(lnp) / count(*), 4) cross_entropy FROM s GROUP BY doc_id),
        |ps AS (SELECT h.doc_id, d.source, round(exp(cross_entropy), 2) ppl
        |  FROM h JOIN documents d USING (doc_id)),
        |-- the registered cut path is approx_percentile(ppl, p, 10000): in
        |-- the lossless regime (n <= accuracy per source) the GK sketch
        |-- retains the whole multiset and returns the element at 1-indexed
        |-- rank ceil(p*n) — recomputed here exactly (the float literals
        |-- 1.0/3 and 2.0/3 are the same IEEE doubles in both engines)
        |r AS (SELECT source, ppl,
        |    row_number() OVER (PARTITION BY source ORDER BY ppl) rn,
        |    count(*) OVER (PARTITION BY source) n FROM ps),
        |c AS (SELECT source,
        |    round(max(ppl) FILTER (WHERE rn = CAST(ceil((1.0/3) * n) AS BIGINT)), 6) lo,
        |    round(max(ppl) FILTER (WHERE rn = CAST(ceil((2.0/3) * n) AS BIGINT)), 6) hi
        |  FROM r GROUP BY source)
        |SELECT doc_id, source, ppl,
        |  CASE WHEN ppl <= lo THEN 'head' WHEN ppl <= hi THEN 'middle'
        |       ELSE 'tail' END band
        |FROM ps JOIN c USING (source)""".stripMargin,

    // The broadcast-weights model path scoring the toy lexicon as a
    // linear model: margin = Σ valence·count, tri-state label on the sign
    "q66_model_sentiment" ->
      s"""WITH m AS (SELECT doc_id,
         |  (len(list_filter(string_split(text,' '), t -> t IN $pos))
         |   - len(list_filter(string_split(text,' '), t -> t IN $neg)))::DOUBLE margin
         |  FROM documents)
         |SELECT doc_id, margin,
         |  CASE WHEN margin > 0 THEN 'positive'
         |       WHEN margin < 0 THEN 'negative' ELSE 'na' END sentiment
         |FROM m""".stripMargin,

    "q03_sentiment_daily" ->
      s"""SELECT source,
         |  count(*) FILTER (WHERE s = 'positive') positive_count,
         |  count(*) FILTER (WHERE s = 'negative') negative_count,
         |  count(*) FILTER (WHERE s = 'na') na_count
         |FROM (SELECT source, $sentimentCase s FROM documents)
         |GROUP BY source""".stripMargin,

    "q04_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) avg_disc,
        |  count(*) count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q05_join_star" ->
      """SELECT r_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) revenue,
        |  count(*) n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q06_date_parts" ->
      """SELECT CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate) AS INT) date_id,
        |  CAST(year(o_orderdate) AS INT) y,
        |  CAST(month(o_orderdate) AS INT) m,
        |  CAST(day(o_orderdate) AS INT) d,
        |  count(*) n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) total_price
        |FROM orders GROUP BY 1, 2, 3, 4""".stripMargin,

    "q07_quality_checks" ->
      """WITH m AS (SELECT
        |  count(*) row_count,
        |  count(*) - count(o_custkey) null_custkey,
        |  count(*) - count(DISTINCT o_orderkey) pk_dup,
        |  count(*) FILTER (WHERE o_totalprice <= 0) nonpositive_total,
        |  count(*) FILTER (WHERE o_orderdate > TIMESTAMP '2001-08-01') future_orders
        |FROM orders)
        |SELECT 'row_count' check_name, row_count "value" FROM m
        |UNION ALL SELECT 'null_custkey', null_custkey FROM m
        |UNION ALL SELECT 'pk_dup', pk_dup FROM m
        |UNION ALL SELECT 'nonpositive_total', nonpositive_total FROM m
        |UNION ALL SELECT 'future_orders', future_orders FROM m""".stripMargin,

    "q08_daily_join" ->
      """WITH a AS (SELECT CAST(ts AS DATE) d, count(*) n_purchases,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT CAST(ts AS DATE) d, count(*) n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT a.d, n_purchases, purchase_value, n_clicks FROM a JOIN b USING (d)""".stripMargin,

    "q09_window_funcs" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INT) rnk,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) running_value,
        |  lag(value) OVER w prev_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q10_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) rk
        |FROM orders QUALIFY rk <= 3""".stripMargin,

    "q11_pivot" ->
      """SELECT CAST(ts AS DATE) d,
        |  count(*) FILTER (WHERE event_type='click') n_click,
        |  count(*) FILTER (WHERE event_type='error') n_error,
        |  count(*) FILTER (WHERE event_type='purchase') n_purchase,
        |  count(*) FILTER (WHERE event_type='signup') n_signup,
        |  count(*) FILTER (WHERE event_type='view') n_view
        |FROM events GROUP BY 1""".stripMargin,

    "q12_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events),
        |l AS (SELECT user_id, event_id, us,
        |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) prev_us FROM e),
        |f AS (SELECT user_id, event_id, us,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END new_sess FROM l),
        |s AS (SELECT user_id, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_seq FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) session_seq, count(*) n_events,
        |  min(us) start_us, max(us) end_us
        |FROM s GROUP BY user_id, session_seq""".stripMargin,

    "q13_tumbling_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) window_start_us, event_type,
        |  count(*) n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // session_window split semantics equal q12's (diff > gap, spec-pinned
    // at the exact-boundary case); end = last event + gap (the expiry).
    "q45_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events),
        |l AS (SELECT user_id, event_id, us,
        |  lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) prev_us FROM e),
        |f AS (SELECT user_id, event_id, us,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END new_sess FROM l),
        |s AS (SELECT user_id, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_seq FROM f)
        |SELECT user_id, min(us) start_us, max(us) + 1800000000 end_us, count(*) n_events
        |FROM s GROUP BY user_id, session_seq""".stripMargin,

    "q14_rollup" ->
      """SELECT coalesce(r_name, 'ALL') region_name, coalesce(n_name, 'ALL') nation_name,
        |  count(*) n_customers,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "q15_semi_anti_join" ->
      """SELECT 'with_orders' kind, c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' kind, c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q16_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) n_parts,
        |  count(DISTINCT l_suppkey) n_supps,
        |  count(DISTINCT l_orderkey) n_orders,
        |  count(*) n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // HLL gate: exact counts are recomputed here; the Spark side's
    // in-bound booleans must come back TRUE (|HLL - exact|/exact <= 5%).
    "q17_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) exact_parts,
        |  count(DISTINCT l_orderkey) exact_orders,
        |  count(*) n_rows,
        |  TRUE parts_ok, TRUE orders_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // GROUPING(a, b)'s bitmask (first arg = MSB) matches Spark's
    // grouping_id() bit order, so the gid column compares directly.
    "q18_cube_grouping" ->
      """SELECT coalesce(o_orderpriority, 'ALL') pri,
        |  CAST(coalesce(year(o_orderdate), -1) AS INT) y,
        |  CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS INT) gid,
        |  count(*) n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) total_price
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, year(o_orderdate))""".stripMargin,

    "q19_set_ops" ->
      """WITH early AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) < 1998),
        |late AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1998)
        |SELECT 'both_eras' kind, o_custkey
        |  FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
        |UNION ALL
        |SELECT 'early_only' kind, o_custkey
        |  FROM (SELECT * FROM early EXCEPT SELECT * FROM late)
        |UNION ALL
        |SELECT 'late_only' kind, o_custkey
        |  FROM (SELECT * FROM late EXCEPT SELECT * FROM early)""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT min(doc_id) doc_id, count(*) n_copies FROM documents
        |GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))""".stripMargin,

    // Contamination: 5-gram twin of the shingle CTE (range end = len-3 so
    // the count is len-5+1, empty below 5 tokens), threshold on the raw
    // ratio, reported fraction rounded.
    "q62_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |s5 AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+4],' ')
        |       for i in range(1, greatest(len(toks)-3,1))]) sh FROM t),
        |tr AS (SELECT doc_id train_id, unnest(sh) g FROM s5 WHERE doc_id % 50 <> 0),
        |te AS (SELECT doc_id test_id, unnest(sh) g FROM s5 WHERE doc_id % 50 = 0),
        |sz AS (SELECT doc_id test_id, len(sh) n_grams FROM s5
        |  WHERE doc_id % 50 = 0 AND len(sh) > 0),
        |h AS (SELECT test_id, train_id, count(*) n_hits
        |  FROM te JOIN tr USING (g) GROUP BY 1, 2)
        |SELECT test_id, train_id, n_hits,
        |  round(n_hits::DOUBLE / n_grams, 4) frac
        |FROM h JOIN sz USING (test_id)
        |WHERE n_hits::DOUBLE / n_grams >= 0.8""".stripMargin,

    // Incremental dedup: delta (odd ids) deduped within itself, then
    // anti-joined against the base (even ids) corpus's normalized texts.
    "q52_incremental_dedup" ->
      """WITH n AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t FROM documents),
        |b AS (SELECT DISTINCT t FROM n WHERE doc_id % 2 = 0),
        |d AS (SELECT min(doc_id) doc_id, count(*) n_copies, t FROM n
        |  WHERE doc_id % 2 = 1 GROUP BY t)
        |SELECT doc_id, n_copies FROM d ANTI JOIN b USING (t)""".stripMargin,

    "q21_dedup_minhash" -> jaccardPairs,

    // Incremental near-dup: delta (odd ids) vs base (even ids) index.
    // nullif keeps the empty-∪-empty case NULL (= no drop), matching
    // Spark's J(∅,∅)=0 — DuckDB's NaN would otherwise compare ≥ τ.
    "q65_incremental_neardup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |       for i in range(1, greatest(len(toks)-1,1))]) sh FROM t),
        |b AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |d AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |jx AS (SELECT DISTINCT d.doc_id FROM d JOIN b ON
        |   len(list_intersect(d.sh,b.sh))::DOUBLE
        |     / nullif(len(d.sh)+len(b.sh)-len(list_intersect(d.sh,b.sh)),0) >= 0.7),
        |jw AS (SELECT DISTINCT a2.doc_id FROM d a1 JOIN d a2
        |  ON a1.doc_id < a2.doc_id AND
        |   len(list_intersect(a1.sh,a2.sh))::DOUBLE
        |     / nullif(len(a1.sh)+len(a2.sh)-len(list_intersect(a1.sh,a2.sh)),0) >= 0.7)
        |SELECT doc_id FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1)
        |ANTI JOIN jx USING (doc_id)
        |ANTI JOIN jw USING (doc_id)""".stripMargin,

    // TF-IDF cosine pairs (blocked by source): both order-sensitive sums
    // (norm, dot) ride DECIMAL in both engines, so the 4-dp cosine and
    // the >= cut agree.
    "q63_tfidf_cosine_pairs" ->
      """WITH tf AS (SELECT doc_id doc, any_value(src) src, u term, count(*)::DOUBLE tf
        |  FROM (SELECT doc_id, source src, unnest(string_split(text,' ')) u
        |        FROM documents)
        |  GROUP BY doc_id, u),
        |df AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id)::DOUBLE n_docs FROM documents),
        |w AS (SELECT doc, src, term, tf * (ln((n_docs + 1) / (df + 1)) + 1) w
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc, sqrt(CAST(sum(CAST(w*w AS DECIMAL(30,12))) AS DOUBLE)) nrm
        |  FROM w GROUP BY doc),
        |wn AS (SELECT doc, src, term,
        |    CAST(round(w / nrm * 1000000) AS BIGINT) wn
        |  FROM w JOIN nrm USING (doc)),
        |p AS (SELECT a.doc doc_a, b.doc doc_b,
        |    round(sum(a.wn * b.wn)::DOUBLE / 1000000000000, 4) cosine
        |  FROM wn a JOIN wn b
        |    ON a.term = b.term AND a.src = b.src AND a.doc < b.doc
        |  GROUP BY 1, 2)
        |SELECT doc_a id_a, doc_b id_b, cosine FROM p WHERE cosine >= 0.9""".stripMargin,

    "q22_dedup_simhash" ->
      s"""$simhashCte
         |SELECT a.doc_id id_a, b.doc_id id_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin,

    "q22b_dedup_simhash_shingled" ->
      s"""$shingledSimhashCte
         |SELECT a.doc_id id_a, b.doc_id id_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin,

    "q23_ngram_jaccard" -> jaccardPairs,

    "q24_embed_neardup" ->
      s"""$cosineCte,
         |p AS (SELECT a.vec_id id_a, b.vec_id id_b,
         |  round(list_dot_product(a.v,b.v)
         |    /(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))),4) cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4""".stripMargin,

    // The LSH near-dup gate: n_true is genuinely recomputed by the oracle
    // (exact brute-force pair count over the id < 500 subset); recall_ok /
    // fp_count are the bounds the Spark side must meet (see
    // Dedup.embeddingNearDupGate).
    "q24b_embed_neardup_lsh" ->
      s"""$cosineCte,
         |p AS (SELECT a.vec_id id_a, b.vec_id id_b,
         |  round(list_dot_product(a.v,b.v)
         |    /(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))),4) cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < 500 AND b.vec_id < 500)
         |SELECT count(*) n_true, TRUE recall_ok, 0::BIGINT fp_count
         |FROM p WHERE cos >= 0.4""".stripMargin,

    "q25_knn_brute" ->
      s"""$cosineCte,
         |s AS (SELECT q.vec_id qid, c.vec_id nid,
         |  round(list_dot_product(q.v,c.v)
         |    /(sqrt(list_dot_product(q.v,q.v))*sqrt(list_dot_product(c.v,c.v))),6) score
         |  FROM e q JOIN e c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT qid query_id,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INT) rank,
         |  nid neighbor_id
         |FROM s QUALIFY rank <= 5""".stripMargin,

    // Deterministic Lloyd k-means: the whole iteration chain unrolls into
    // CTEs (init from the k smallest ids, exact grid distances, re-rounded
    // means, empty-cluster carryover) — the clustering is a pure function
    // of the input multiset, so it reproduces the Spark driver loop
    // hash-exactly.
    "q86_kmeans" ->
      s"""${kmeansCtes(8, 3)}
         |SELECT vec_id id, CAST(cl AS INT) AS "cluster",
         |  round(CAST(d AS DOUBLE)/1e12, 6) dist_sq
         |FROM fw""".stripMargin,

    // Cluster profile: the q86 CTEs, then k×|labels|-sized diagnostics;
    // the mean accumulates the 6-dp rounded dist as DECIMAL like Spark.
    "q93_cluster_profile" ->
      s"""${kmeansCtes(8, 3)},
         |j AS (SELECT w.cl, round(CAST(w.d AS DOUBLE)/1e12, 6) ds, lb.label
         |  FROM fw w JOIN (SELECT vec_id, label FROM embeddings
         |    WHERE embedding IS NOT NULL) lb USING (vec_id)),
         |sz AS (SELECT cl, count(*)::BIGINT n_vectors,
         |    round(CAST(sum(CAST(ds AS DECIMAL(20,6))) AS DOUBLE)/count(*), 6)
         |      mean_dist_sq
         |  FROM j GROUP BY 1),
         |mj AS (SELECT cl, label, count(*)::BIGINT c FROM j GROUP BY 1, 2
         |       QUALIFY row_number() OVER
         |         (PARTITION BY cl ORDER BY count(*) DESC, label) = 1)
         |SELECT CAST(sz.cl AS INT) AS "cluster", n_vectors, mean_dist_sq,
         |  mj.label majority_label,
         |  round(c::DOUBLE / n_vectors, 4) purity
         |FROM sz JOIN mj USING (cl)""".stripMargin,

    // SemDeDup: the q86 clustering CTEs verbatim, then q24's 4-dp cosine
    // over within-cluster smaller-id pairs; dropped = any qualifying
    // smaller-id neighbor exists.
    "q87_semdedup" ->
      s"""${kmeansCtes(8, 3)},
         |ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |dp AS (SELECT b.vec_id id FROM fw fa JOIN fw fb
         |    ON fa.cl = fb.cl AND fa.vec_id < fb.vec_id
         |  JOIN ev a ON a.vec_id = fa.vec_id
         |  JOIN ev b ON b.vec_id = fb.vec_id
         |  WHERE round(list_dot_product(a.v,b.v)
         |    /(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))),4)
         |    >= 0.4
         |  GROUP BY 1)
         |SELECT w.vec_id id, CAST(w.cl AS INT) AS "cluster",
         |  dp.id IS NULL AS is_kept
         |FROM fw w LEFT JOIN dp ON dp.id = w.vec_id""".stripMargin,

    // Gopher rule gate: per-row list folds, integer-count ratios round 4.
    "q91_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |s AS (SELECT doc_id,
        |    len(toks)::BIGINT n_words,
        |    round(list_sum(list_transform(toks, t -> len(t)))::DOUBLE
        |      / len(toks), 4) mean_word_len,
        |    round(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
        |      / len(toks), 4) alpha_ratio,
        |    len(list_filter(toks, t -> t IN
        |      ('the','a','of','to','and','in','is','on')))::BIGINT n_stopwords,
        |    round(len(list_filter(toks, t -> contains(t, '#')
        |      OR contains(t, '...')))::DOUBLE / len(toks), 4) symbol_ratio
        |  FROM t)
        |SELECT *,
        |  n_words BETWEEN 20 AND 80 AS r_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_len,
        |  alpha_ratio >= 0.8 AS r_alpha,
        |  n_stopwords >= 2 AS r_stopwords,
        |  symbol_ratio <= 0.1 AS r_symbols,
        |  (n_words BETWEEN 20 AND 80) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_ratio >= 0.8 AND n_stopwords >= 2
        |    AND symbol_ratio <= 0.1 AS passes
        |FROM s""".stripMargin,

    // DSIR importance weights: the same polynomial gram hash as the
    // simhash CTEs, add-one smoothed target/raw bucket distributions,
    // per-bucket log-ratio rounded 6 dp, per-doc decimal sum rounded 4 dp.
    "q90_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, lang, unnest(list_concat(toks,
        |    [toks[i] || ' ' || toks[i+1]
        |     for i in range(1, greatest(len(toks),1))])) gram FROM t),
        |fx AS (SELECT doc_id, lang,
        |    CAST(list_reduce(list_transform(string_split(gram,''),
        |        c -> ascii(c)::BIGINT), (a,b) -> (a*31+b)%1000000007)
        |      % 64 AS INT) b FROM g),
        |dc AS (SELECT doc_id, lang, b, count(*)::BIGINT cnt
        |       FROM fx GROUP BY 1, 2, 3),
        |tc AS (SELECT b, sum(cnt)::BIGINT tc FROM dc WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, sum(cnt)::BIGINT rc FROM dc GROUP BY 1),
        |tot AS (SELECT sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)::BIGINT tt,
        |    sum(cnt)::BIGINT rt FROM dc),
        |sp AS (SELECT unnest(range(0, 64))::INT b),
        |lr AS (SELECT sp.b,
        |    round(ln((coalesce(tc,0)+1)::DOUBLE / (tt+64))
        |        - ln((coalesce(rc,0)+1)::DOUBLE / (rt+64)), 6) lr
        |  FROM sp LEFT JOIN tc ON tc.b = sp.b LEFT JOIN rc ON rc.b = sp.b
        |  CROSS JOIN tot)
        |SELECT doc_id, sum(cnt)::BIGINT n_feats,
        |  round(sum(CAST(lr AS DECIMAL(12,6)) * cnt), 4)::DOUBLE log_weight
        |FROM dc JOIN lr USING (b) GROUP BY 1""".stripMargin,

    // Banding calibration: brute jaccard deciles over the id<1000
    // subsample, analytic rate by fixed-order multiply/square chains (no
    // pow), measured rate pinned via the TRUE-gate convention (q24b) —
    // the oracle cannot re-derive the 2^64-wraparound signature.
    "q116_banding_calibration" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE doc_id < 500),
        |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |       for i in range(1, greatest(len(toks)-1,1))]) sh FROM t),
        |se AS (SELECT * FROM s WHERE len(sh) > 0),
        |pj AS (SELECT round(len(list_intersect(a.sh,b.sh))::DOUBLE
        |    /(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))),4) j
        |  FROM se a JOIN se b ON a.doc_id < b.doc_id),
        |px AS (SELECT least(floor(j*10), 9)::INT decile,
        |    CAST(round(1.0 - x5, 6) AS DECIMAL(10,6)) p
        |  FROM (SELECT j, x4*x4 x5 FROM (SELECT j, x3*x3 x4
        |    FROM (SELECT j, x2*x2 x3 FROM (SELECT j, x1*x1 x2
        |      FROM (SELECT j, x0*x0 x1
        |        FROM (SELECT j, 1.0 - ((j*j)*j)*j x0 FROM pj)))))))
        |SELECT decile, count(*)::BIGINT n_pairs,
        |  round(CAST(sum(p) AS DOUBLE)/count(*), 4) analytic_rate,
        |  TRUE gate_ok
        |FROM px GROUP BY 1""".stripMargin,

    // Model-based quality filter: batch perceptron unrolled — exact long
    // scores, integer comparisons, hash-exact by construction.
    "q114_quality_classifier" ->
      s"""${perceptronCtes(1024, 20,
        isTrainSql = "doc_id % 2 = 0 AND doc_id < 1000")}
         |SELECT l.doc_id, l.y AS label, l.is_train, f.score,
         |  f.score > 0 AS pred
         |FROM lbl l JOIN fsc f USING (doc_id)""".stripMargin,

    // PMI collocations: one ln of one quotient, multiplied in the same
    // fixed double order as the Spark side, rounded 4 dp, bigram tiebreak.
    "q89_collocations" ->
      """WITH t AS (SELECT lang, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL),
        |st AS (SELECT lang, sum(len(toks))::BIGINT n,
        |    sum(greatest(len(toks)-1,0))::BIGINT nb FROM t GROUP BY 1),
        |cx AS (SELECT lang, unnest(toks) tok FROM t),
        |u AS (SELECT lang, tok, count(*)::BIGINT c FROM cx GROUP BY 1, 2),
        |bgs AS (SELECT lang,
        |    unnest([toks[i] || ' ' || toks[i+1]
        |            for i in range(1, greatest(len(toks),1))]) bg FROM t),
        |cb AS (SELECT lang, bg, count(*)::BIGINT cxy FROM bgs GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |sc AS (SELECT cb.lang, cb.bg,
        |    round(ln(cxy::DOUBLE * n * n / (nb::DOUBLE * ux.c * uy.c)), 4) pmi
        |  FROM cb
        |  JOIN u ux ON ux.lang = cb.lang AND ux.tok = string_split(cb.bg,' ')[1]
        |  JOIN u uy ON uy.lang = cb.lang AND uy.tok = string_split(cb.bg,' ')[2]
        |  JOIN st ON st.lang = cb.lang)
        |SELECT lang, CAST(row_number() OVER
        |    (PARTITION BY lang ORDER BY pmi DESC, bg) AS INT) AS "rank",
        |  bg bigram, pmi
        |FROM sc QUALIFY "rank" <= 20""".stripMargin,

    // Snapshot diff: digests computed per side, full join, churn only.
    // concat_ws skips NULLs in both engines; NULL text digests as ''.
    "q88_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(coalesce(text,'')) dg
        |  FROM documents WHERE doc_id % 11 != 3),
        |n AS (SELECT doc_id, md5(coalesce(
        |    CASE WHEN doc_id % 7 = 1 THEN concat_ws(' ', text, 'v2')
        |         ELSE text END, '')) dg
        |  FROM documents WHERE doc_id % 13 != 5)
        |SELECT coalesce(o.doc_id, n.doc_id) doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END change_type
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.dg != n.dg""".stripMargin,

    // Hybrid RRF: both legs rank on rounded scores with id tiebreaks, so
    // the fusion input is integer ranks — 1/(60+rank) sums then rank again.
    "q85_hybrid_rrf" ->
      s"""$hybridLegsCte,
         |f AS (SELECT coalesce(dr.qid, lr.qid) qid, coalesce(dr.id, lr.id) id,
         |    round(coalesce(1.0 / (60.0 + rank_d), 0)
         |        + coalesce(1.0 / (60.0 + rank_l), 0), 6) rrf
         |  FROM dr FULL JOIN lr ON dr.qid = lr.qid AND dr.id = lr.id)
         |SELECT qid query_id,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS INT) rank,
         |  id doc_id, rrf
         |FROM f QUALIFY rank <= 10""".stripMargin,

    // The indexed lexical leg's contract is exact rank equality with the
    // in-query legs (same df/tf/dl rows, same stats, same expression
    // tree), so its twin IS q85's verbatim — the q82b discipline: any
    // divergence between the posting artifact + pruned probe and the
    // in-query tokenize shows up as a hash mismatch here.
    "q85b_hybrid_rrf_indexed" ->
      s"""$hybridLegsCte,
         |f AS (SELECT coalesce(dr.qid, lr.qid) qid, coalesce(dr.id, lr.id) id,
         |    round(coalesce(1.0 / (60.0 + rank_d), 0)
         |        + coalesce(1.0 / (60.0 + rank_l), 0), 6) rrf
         |  FROM dr FULL JOIN lr ON dr.qid = lr.qid AND dr.id = lr.id)
         |SELECT qid query_id,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS INT) rank,
         |  id doc_id, rrf
         |FROM f QUALIFY rank <= 10""".stripMargin,

    // q85c is GATED (ANN dense leg — approximate by design): the oracle
    // recomputes the exact fused QUERY SET from the shared legs CTE;
    // recall_ok is the Spark-side gate boolean (fused top-10 overlap vs
    // the exact-dense fusion clears the ProbeHybridAnn floor).
    "q85c_hybrid_rrf_ann" ->
      s"""$hybridLegsCte
         |SELECT count(DISTINCT coalesce(dr.qid, lr.qid)) n_queries,
         |  TRUE recall_ok
         |FROM dr FULL JOIN lr ON dr.qid = lr.qid AND dr.id = lr.id""".stripMargin,

    // Hard negatives: the q85 legs subtracted instead of fused — lexical
    // top-k not present in the dense top-k, re-ranked by BM25 order.
    "q94_hard_negatives" ->
      s"""$hybridLegsCte
         |SELECT lr.qid query_id,
         |  CAST(row_number() OVER (PARTITION BY lr.qid ORDER BY rank_l) AS INT)
         |    AS "rank",
         |  lr.id doc_id, lr.s bm25
         |FROM lr ANTI JOIN dr ON dr.qid = lr.qid AND dr.id = lr.id
         |QUALIFY "rank" <= 10""".stripMargin,

    // ANN recall gates: n_queries is recomputed; recall_ok must be TRUE
    // (recall@5 vs the exact reference over the same queries clears the
    // measured floor — see Knn.recallGate).
    "q26_knn_lsh" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // Projection fidelity: the oracle recomputes the exact pair count of
    // the id<200 subset; the MAE bound is the Spark-side gate boolean.
    "q77_projection_fidelity" ->
      """SELECT (n * (n - 1) / 2)::BIGINT n_pairs, TRUE mae_ok
        |FROM (SELECT count(*) n FROM embeddings WHERE vec_id < 200)""".stripMargin,
    // Quantized-store kNN: measured recall@5 0.96-1.0 across scales,
    // gated at 0.8 (int8 noise barely moves cosine ranks).
    "q57_knn_quantized" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // Same gate for the pure-integer scoring path (symmetric codes).
    "q60_knn_int8" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q27_knn_ivf" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // PQ+refine gate: measured recall@5 (refine=200 over 8x32 codebooks)
    // must clear the floor; n_queries genuinely recomputed.
    "q105_knn_pq" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // IVF-PQ gate: recall bounded by the coarse quantizer's cell recall
    // on near-uniform data (q27's worst case) — floor set from the
    // ProbePq sweep.
    "q107_knn_ivfpq" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // persisted-index path: same gate contract as q107 (results identical
    // by construction given the same model/centroids; PqSpec asserts it)
    "q107b_knn_ivfpq_indexed" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // same gate convention as q107/q107b: n_queries genuinely recounted,
    // the recall bound pinned TRUE (the approximate path has no SQL form)
    "q107c_knn_ivfpq_incremental" ->
      """SELECT count(DISTINCT vec_id) n_queries, TRUE recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // mixed-producer grow (r16 verdict #1): same gate convention — the
    // two-producer protocol's output is an ANN index, so the recall gate
    // (n_queries genuinely recounted, bound pinned TRUE) — PLUS a
    // count-exact column (r17 verdict #1): the tranches partition
    // pmod(vec_id,10) over 0..9, so the grown index's row count must
    // equal the table's non-null-embedding count exactly; a lost or
    // doubled batch flips the hash, not just the recall floor
    "q107d_knn_ivfpq_mixed_grow" ->
      """SELECT (SELECT count(DISTINCT vec_id) FROM embeddings WHERE vec_id < 10) n_queries,
        |       TRUE recall_ok,
        |       (SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL) n_indexed""".stripMargin,

    "q28_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) us FROM events
        |  WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, epoch_us(ts) us, event_id FROM events
        |  WHERE event_type = 'click'),
        |c AS (SELECT user_id, us, max(event_id) click_event_id FROM c0 GROUP BY user_id, us)
        |SELECT p.event_id, p.user_id, p.us, c.click_event_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us""".stripMargin,

    "q29_range_join" ->
      """WITH bands AS (SELECT r_regionkey, r_regionkey*25.0 lo, r_regionkey*25.0+40.0 hi
        |  FROM region)
        |SELECT event_id, r_regionkey, value
        |FROM events JOIN bands ON value >= lo AND value < hi""".stripMargin,

    "q30_lang_id" ->
      s"""SELECT doc_id,
         |  CASE WHEN len(list_filter(string_split(text,' '), t -> t IN $stop)) > 0
         |       THEN 'en' ELSE 'und' END lang_pred
         |FROM documents""".stripMargin,

    "q31_text_quality" ->
      s"""SELECT doc_id,
         |  length(text)::BIGINT n_chars_obs,
         |  len(string_split(text,' '))::BIGINT n_tokens,
         |  round(len(list_filter(string_split(text,' '), t -> t IN $stop))::DOUBLE
         |    / len(string_split(text,' ')), 6) stopword_ratio,
         |  round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
         |    / length(text), 6) punct_ratio,
         |  round(CAST(list_sum(list_transform(string_split(text,' '), t -> length(t))) AS DOUBLE)
         |    / len(string_split(text,' ')), 6) mean_token_len
         |FROM documents""".stripMargin,

    "q32_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT re_tokens
        |FROM documents""".stripMargin,

    "q33_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(string_split(text,''), c -> ascii(c)::BIGINT),
        |    (a,b) -> (a*31+b) % 1000000007) fp
        |FROM documents""".stripMargin,

    // Connected components of the near-dup pair graph: the same min-label
    // fixpoint the Spark loop computes, as a recursive CTE. Propagating
    // only labels below the receiving id is safe: every node's final label
    // is its component minimum, which is below every other member's id and
    // is seeded at its own node by the anchor term.
    "q34_neardup_clusters" ->
      s"""WITH RECURSIVE
         |  pr AS MATERIALIZED (SELECT * FROM ($jaccardPairs) q),
         |  edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |            UNION ALL SELECT id_b, id_a FROM pr),
         |  cc(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b
         |  )
         |SELECT id AS doc_id, min(lbl) AS component FROM cc GROUP BY id""".stripMargin,

    // Canonical picks: q34's recursive-CTE components + token-count
    // argmax (n_tokens DESC, id) per component, keep = is-canonical.
    "q104_canonical_picks" ->
      s"""WITH RECURSIVE
         |  pr AS MATERIALIZED (SELECT * FROM ($jaccardPairs) q),
         |  edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |            UNION ALL SELECT id_b, id_a FROM pr),
         |  cc(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b
         |  ),
         |  comp AS (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |  tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens
         |          FROM documents),
         |  ranked AS (SELECT c.id doc_id, c.component, t.n_tokens,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY t.n_tokens DESC, c.id) rn
         |    FROM comp c JOIN tok t ON t.doc_id = c.id),
         |  canon AS (SELECT component, doc_id canonical_id FROM ranked WHERE rn = 1)
         |SELECT r.doc_id, r.component, cn.canonical_id,
         |  (r.doc_id = cn.canonical_id) keep
         |FROM ranked r JOIN canon cn USING (component)""".stripMargin,

    // Leakage-safe split: components (same recursive CTE), split key =
    // coalesce(component, own id), then q79's exact hash-bucket split.
    "q106_leakage_safe_split" ->
      s"""WITH RECURSIVE
         |  pr AS MATERIALIZED (SELECT * FROM ($jaccardPairs) q),
         |  edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |            UNION ALL SELECT id_b, id_a FROM pr),
         |  cc(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b
         |  ),
         |  comp AS (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |  k AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) split_key
         |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, split_key,
         |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
         |       ELSE 'test' END split
         |FROM (SELECT doc_id, split_key,
         |  (((split_key % 2147483647) * 1103515245 + 12345) % 2147483647
         |      * 48271 + 11) % 2147483647
         |    * 10000 // 2147483647 bp FROM k)""".stripMargin,

    "q35_stratified_sample" ->
      """SELECT doc_id, source, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
        |    doc_id) <= 5""".stripMargin,

    // Same arithmetic-hash priority, scaled by 1/weight: one IEEE double
    // division — bit-identical across engines, so the same rows win.
    "q54_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY CAST(((doc_id % 2147483647) * 1103515245 + 12345)
        |      % 2147483647 AS DOUBLE) / n_chars,
        |    doc_id) <= 5""".stripMargin,

    // Plain overlap join — the oracle can afford the nested loop the
    // operator exists to avoid.
    "q53_interval_overlap" ->
      """WITH a AS (SELECT event_id a_id, "value" a_lo, "value" + 5.0 a_hi
        |  FROM events WHERE event_type = 'click' AND event_id % 200 = 0),
        |b AS (SELECT event_id b_id, "value" b_lo, "value" + 3.0 b_hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a_id, b_id,
        |  round(least(a_hi, b_hi) - greatest(a_lo, b_lo), 4) overlap_len
        |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi""".stripMargin,

    // Sequence packing: DuckDB can afford the single global window the
    // Spark side's distributed prefix sum avoids; // is integer division.
    "q64_sequence_packing" ->
      """WITH d AS (SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    ((sum(n_tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - n_tokens))::BIGINT "offset" FROM d)
        |SELECT doc_id, n_tokens, "offset",
        |  ("offset" // 2048)::BIGINT start_seq,
        |  (("offset" + greatest(n_tokens, 1) - 1) // 2048)::BIGINT end_seq,
        |  ("offset" % 2048)::BIGINT pos_in_seq
        |FROM c""".stripMargin,

    // Entropy via H = (ln n - sum(c ln c)/n) / ln 2 — single agg over the
    // unit counts, same formula both engines, rounded 4 dp.
    "q61_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest([text[i] for i in range(1, len(text) + 1)]) u FROM documents),
        |cc AS (SELECT doc_id, u, count(*) c FROM ch GROUP BY 1, 2),
        |hc AS (SELECT doc_id, round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
        |    / ln(2), 4) char_entropy FROM cc GROUP BY doc_id),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) u FROM documents),
        |tc AS (SELECT doc_id, u, count(*) c FROM tk GROUP BY 1, 2),
        |ht AS (SELECT doc_id, round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
        |    / ln(2), 4) token_entropy FROM tc GROUP BY doc_id)
        |SELECT hc.doc_id, char_entropy, token_entropy
        |FROM hc JOIN ht USING (doc_id)""".stripMargin,

    "q36_ngram_topk" ->
      """WITH t AS (SELECT source, string_split(text,' ') toks FROM documents),
        |s AS (SELECT source, unnest(list_distinct([array_to_string(toks[i:i+1],' ')
        |       for i in range(1, greatest(len(toks),1))])) ngram FROM t),
        |f AS (SELECT source, ngram, count(*) df FROM s GROUP BY source, ngram)
        |SELECT source, ngram, df,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY df DESC, ngram) AS INT) rk
        |FROM f QUALIFY rk <= 5""".stripMargin,

    // Gopher repetition signals: same token/bigram counting as
    // Repetition.signals (bigrams keep duplicates — repetition IS the
    // signal). Single-token docs have no bigrams → LEFT JOIN + 0.
    "q38_repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |w AS (SELECT doc_id, unnest(toks) tok FROM t),
        |wc AS (SELECT doc_id, tok, count(*) c FROM w GROUP BY 1, 2),
        |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n, count(*) d, max(c) topc
        |  FROM wc GROUP BY 1),
        |b AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
        |  for i in range(1, len(toks))]) g FROM t),
        |bc AS (SELECT doc_id, g, count(*) c FROM b GROUP BY 1, 2),
        |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) nb, max(c) topb FROM bc GROUP BY 1)
        |SELECT wa.doc_id, n n_tokens,
        |  round(1.0 - d / n::DOUBLE, 6) dup_word_frac,
        |  round(topc / n::DOUBLE, 6) top_word_frac,
        |  round(coalesce(topb / nb::DOUBLE, 0.0), 6) top_bigram_frac
        |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id""".stripMargin,

    // Same injected spans, same Java/RE2-common patterns (interpolated
    // from TextFunctions so the engines can't drift).
    "q39_pii_scrub" ->
      s"""WITH i AS (SELECT doc_id,
         |  text || CASE WHEN doc_id % 2 = 0
         |    THEN ' reach user' || doc_id || '@mail.example.com' ELSE '' END
         |  || CASE WHEN doc_id % 3 > 0
         |    THEN ' see https://ex' || (doc_id % 5) || '.example.org/a_b-c' ELSE '' END t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '${TextFunctions.EmailRe}'))::BIGINT n_emails,
         |  len(regexp_extract_all(t, '${TextFunctions.UrlRe}'))::BIGINT n_urls,
         |  regexp_replace(regexp_replace(t, '${TextFunctions.UrlRe}', '<URL>', 'g'),
         |    '${TextFunctions.EmailRe}', '<EMAIL>', 'g') scrubbed
         |FROM i""".stripMargin,

    // The whole cleaning pipeline, stage by stage, as one chained query:
    // lang -> token floor -> repetition cut (round-6 like the Spark side)
    // -> exact-dedup survivors -> minhash-pair components -> min-id
    // survivors -> stratified cap. Constants interpolated from
    // CorpusPipeline's Config and constants so the engines cannot drift.
    "q47_corpus_pipeline" -> {
      val c = graft.pipelines.CorpusPipeline.Config()
      s"""WITH RECURSIVE
         |s1 AS (SELECT * FROM documents
         |  WHERE len(list_filter(string_split(text,' '), t -> t IN $stop)) > 0),
         |s2 AS (SELECT * FROM s1 WHERE len(string_split(text,' ')) >= ${c.minTokens}),
         |rw AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM s2),
         |rc AS (SELECT doc_id, tok, count(*) cnt FROM rw GROUP BY 1, 2),
         |ra AS (SELECT doc_id, round(max(cnt) / sum(cnt)::DOUBLE, 6) topf
         |  FROM rc GROUP BY 1),
         |s3 AS (SELECT s2.* FROM s2 JOIN ra USING (doc_id)
         |  WHERE topf <= ${c.maxTopWordFrac}),
         |s4 AS (SELECT * FROM s3 QUALIFY row_number() OVER (
         |  PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
         |  ORDER BY doc_id) = 1),
         |${jaccardPairCteOver("s4")},
         |pr AS MATERIALIZED (SELECT id_a, id_b FROM p
         |  WHERE jaccard >= ${c.jaccardThreshold}),
         |edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |cc(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b),
         |losers AS (SELECT id FROM (SELECT id, min(lbl) component FROM cc GROUP BY id)
         |  WHERE id <> component),
         |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT id FROM losers)),
         |s6 AS (SELECT * FROM s5 QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
         |    doc_id) <= ${c.samplePerSource})
         |SELECT CAST(0 AS INT) stage_idx, 'input' stage, (SELECT count(*) FROM documents) n_docs
         |UNION ALL SELECT 1, 'lang', (SELECT count(*) FROM s1)
         |UNION ALL SELECT 2, 'quality', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 3, 'repetition', (SELECT count(*) FROM s3)
         |UNION ALL SELECT 4, 'exact_dedup', (SELECT count(*) FROM s4)
         |UNION ALL SELECT 5, 'near_dedup', (SELECT count(*) FROM s5)
         |UNION ALL SELECT 6, 'sample', (SELECT count(*) FROM s6)""".stripMargin
    },

    // The v2 decision chain: q47's CTE ladder with the q109 normalize
    // stage prepended (NFC + control strip, drop whitespace-only docs),
    // the q104 best-member canonical pick in place of min-id survivors,
    // and the q106 component-keyed split audited as three count rows.
    "q47b_corpus_pipeline_v2" -> {
      val c = graft.pipelines.CorpusPipeline.Config()
      s"""WITH RECURSIVE
         |n0 AS (SELECT * REPLACE (regexp_replace(nfc_normalize(text),
         |  '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]', '', 'g')
         |  AS text) FROM documents),
         |s0 AS (SELECT * FROM n0
         |  WHERE len(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
         |s1 AS (SELECT * FROM s0
         |  WHERE len(list_filter(string_split(text,' '), t -> t IN $stop)) > 0),
         |s2 AS (SELECT * FROM s1 WHERE len(string_split(text,' ')) >= ${c.minTokens}),
         |rw AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM s2),
         |rc AS (SELECT doc_id, tok, count(*) cnt FROM rw GROUP BY 1, 2),
         |ra AS (SELECT doc_id, round(max(cnt) / sum(cnt)::DOUBLE, 6) topf
         |  FROM rc GROUP BY 1),
         |s3 AS (SELECT s2.* FROM s2 JOIN ra USING (doc_id)
         |  WHERE topf <= ${c.maxTopWordFrac}),
         |s4 AS (SELECT * FROM s3 QUALIFY row_number() OVER (
         |  PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
         |  ORDER BY doc_id) = 1),
         |${jaccardPairCteOver("s4")},
         |pr AS MATERIALIZED (SELECT id_a, id_b FROM p
         |  WHERE jaccard >= ${c.jaccardThreshold}),
         |edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |cc(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b),
         |comp AS (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens
         |  FROM s4),
         |ranked AS (SELECT c2.id doc_id, c2.component,
         |    row_number() OVER (PARTITION BY c2.component
         |      ORDER BY t.n_tokens DESC, c2.id) rn
         |  FROM comp c2 JOIN tok t ON t.doc_id = c2.id),
         |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT id FROM comp)
         |  OR doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)),
         |s6 AS (SELECT * FROM s5 QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
         |    doc_id) <= ${c.samplePerSource}),
         |k AS (SELECT s6.doc_id, coalesce(c3.component, s6.doc_id) split_key
         |  FROM s6 LEFT JOIN comp c3 ON c3.id = s6.doc_id),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
         |       ELSE 'test' END split
         |  FROM (SELECT doc_id,
         |    (((split_key % 2147483647) * 1103515245 + 12345) % 2147483647
         |        * 48271 + 11) % 2147483647
         |      * 10000 // 2147483647 bp FROM k))
         |SELECT CAST(0 AS INT) stage_idx, 'input' stage, (SELECT count(*) FROM documents) n_docs
         |UNION ALL SELECT 1, 'normalize', (SELECT count(*) FROM s0)
         |UNION ALL SELECT 2, 'lang', (SELECT count(*) FROM s1)
         |UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 4, 'repetition', (SELECT count(*) FROM s3)
         |UNION ALL SELECT 5, 'exact_dedup', (SELECT count(*) FROM s4)
         |UNION ALL SELECT 6, 'canonical', (SELECT count(*) FROM s5)
         |UNION ALL SELECT 7, 'sample', (SELECT count(*) FROM s6)
         |UNION ALL SELECT 8, 'split_train', (SELECT count(*) FROM sp WHERE split = 'train')
         |UNION ALL SELECT 9, 'split_val', (SELECT count(*) FROM sp WHERE split = 'val')
         |UNION ALL SELECT 10, 'split_test', (SELECT count(*) FROM sp WHERE split = 'test')""".stripMargin
    },

    // The full v3 chain: the v2 CTEs with the pc-prefixed perceptron
    // block gating between repetition and dedup, and the stride-interleave
    // checksum over the train split as the final row.
    "q47c_corpus_pipeline_v3" -> {
      val c = graft.pipelines.CorpusPipeline.Config()
      val bpCase = c.interleaveBp
        .map { case (s, b) => s"WHEN source = '$s' THEN $b" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH RECURSIVE
         |n0 AS (SELECT * REPLACE (regexp_replace(nfc_normalize(text),
         |  '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]', '', 'g')
         |  AS text) FROM documents),
         |s0 AS (SELECT * FROM n0
         |  WHERE len(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
         |s1 AS (SELECT * FROM s0
         |  WHERE len(list_filter(string_split(text,' '), t -> t IN $stop)) > 0),
         |s2 AS (SELECT * FROM s1 WHERE len(string_split(text,' ')) >= ${c.minTokens}),
         |rw AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM s2),
         |rc AS (SELECT doc_id, tok, count(*) cnt FROM rw GROUP BY 1, 2),
         |ra AS (SELECT doc_id, round(max(cnt) / sum(cnt)::DOUBLE, 6) topf
         |  FROM rc GROUP BY 1),
         |s3 AS (SELECT s2.* FROM s2 JOIN ra USING (doc_id)
         |  WHERE topf <= ${c.maxTopWordFrac}),
         |${perceptronCtes(graft.pipelines.CorpusPipeline.ClsBuckets, c.clsIters, rel = "s3", p = "pc", lead = "")},
         |s4 AS (SELECT s3.* FROM s3 JOIN pcfsc f USING (doc_id)
         |  WHERE f.score > 0),
         |s5 AS (SELECT * FROM s4 QUALIFY row_number() OVER (
         |  PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
         |  ORDER BY doc_id) = 1),
         |${jaccardPairCteOver("s5")},
         |pr AS MATERIALIZED (SELECT id_a, id_b FROM p
         |  WHERE jaccard >= ${c.jaccardThreshold}),
         |edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |cc(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b),
         |comp AS (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens
         |  FROM s5),
         |ranked AS (SELECT c2.id doc_id, c2.component,
         |    row_number() OVER (PARTITION BY c2.component
         |      ORDER BY t.n_tokens DESC, c2.id) rn
         |  FROM comp c2 JOIN tok t ON t.doc_id = c2.id),
         |s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT id FROM comp)
         |  OR doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)),
         |s7 AS (SELECT * FROM s6 QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
         |    doc_id) <= ${c.samplePerSource}),
         |k AS (SELECT s7.doc_id, coalesce(c3.component, s7.doc_id) split_key
         |  FROM s7 LEFT JOIN comp c3 ON c3.id = s7.doc_id),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
         |       ELSE 'test' END split
         |  FROM (SELECT doc_id,
         |    (((split_key % 2147483647) * 1103515245 + 12345) % 2147483647
         |        * 48271 + 11) % 2147483647
         |      * 10000 // 2147483647 bp FROM k)),
         |tr AS (SELECT s7.doc_id, s7.source,
         |    ((s7.doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 h
         |  FROM s7 JOIN sp USING (doc_id) WHERE sp.split = 'train'),
         |ik AS (SELECT doc_id, h, source,
         |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 kk
         |  FROM tr),
         |iy AS (SELECT doc_id, h,
         |    ((2*kk + 1) * 1000000) // (2 * ($bpCase)) skey FROM ik),
         |io AS (SELECT doc_id, h,
         |    row_number() OVER (ORDER BY skey, doc_id) - 1 ordinal FROM iy)
         |SELECT CAST(0 AS INT) stage_idx, 'input' stage, (SELECT count(*) FROM documents) n_docs
         |UNION ALL SELECT 1, 'normalize', (SELECT count(*) FROM s0)
         |UNION ALL SELECT 2, 'lang', (SELECT count(*) FROM s1)
         |UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 4, 'repetition', (SELECT count(*) FROM s3)
         |UNION ALL SELECT 5, 'classifier', (SELECT count(*) FROM s4)
         |UNION ALL SELECT 6, 'exact_dedup', (SELECT count(*) FROM s5)
         |UNION ALL SELECT 7, 'canonical', (SELECT count(*) FROM s6)
         |UNION ALL SELECT 8, 'sample', (SELECT count(*) FROM s7)
         |UNION ALL SELECT 9, 'split_train', (SELECT count(*) FROM sp WHERE split = 'train')
         |UNION ALL SELECT 10, 'split_val', (SELECT count(*) FROM sp WHERE split = 'val')
         |UNION ALL SELECT 11, 'split_test', (SELECT count(*) FROM sp WHERE split = 'test')
         |UNION ALL SELECT 12, 'interleave_train_xor',
         |  (SELECT coalesce(bit_xor(h * (ordinal + 1)), 0) FROM io)""".stripMargin
    },

    // The CROSS-MODAL v2 chain (r10 verdict #7): q47b's CTEs with the
    // near-dup edge list extended by the three media fingerprint twins
    // recomputed OVER THE EXACT-DEDUP SURVIVORS (s4 — i.e. the media
    // pair twins' `documents` source swapped for the stage relation, so
    // the oracle's containers derive from the same normalized text the
    // pipeline hashes). Duplicate edges (a pair near under several
    // signals) are harmless to the min-label fixpoint on both engines.
    "q47d_corpus_pipeline_xmodal" -> {
      val c = graft.pipelines.CorpusPipeline.Config(crossModalDedup = true)
      s"""WITH RECURSIVE
         |n0 AS (SELECT * REPLACE (regexp_replace(nfc_normalize(text),
         |  '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]', '', 'g')
         |  AS text) FROM documents),
         |s0 AS (SELECT * FROM n0
         |  WHERE len(trim(text, ' ' || chr(9) || chr(10) || chr(13))) > 0),
         |s1 AS (SELECT * FROM s0
         |  WHERE len(list_filter(string_split(text,' '), t -> t IN $stop)) > 0),
         |s2 AS (SELECT * FROM s1 WHERE len(string_split(text,' ')) >= ${c.minTokens}),
         |rw AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM s2),
         |rc AS (SELECT doc_id, tok, count(*) cnt FROM rw GROUP BY 1, 2),
         |ra AS (SELECT doc_id, round(max(cnt) / sum(cnt)::DOUBLE, 6) topf
         |  FROM rc GROUP BY 1),
         |s3 AS (SELECT s2.* FROM s2 JOIN ra USING (doc_id)
         |  WHERE topf <= ${c.maxTopWordFrac}),
         |s4 AS (SELECT * FROM s3 QUALIFY row_number() OVER (
         |  PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
         |  ORDER BY doc_id) = 1),
         |${jaccardPairCteOver("s4")},
         |pr AS MATERIALIZED (
         |  SELECT id_a, id_b FROM p WHERE jaccard >= ${c.jaccardThreshold}
         |  UNION ALL SELECT id_a, id_b FROM (${imagePhashPairsSqlOver("s4")}) iq
         |  UNION ALL SELECT id_a, id_b FROM (${audioFpPairsSqlOver("s4")}) aq
         |  UNION ALL SELECT id_a, id_b FROM (${videoFpPairsSqlOver("s4")}) vq),
         |edges AS MATERIALIZED (SELECT id_a a, id_b b FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |cc(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.id AND c.lbl < e.b),
         |comp AS MATERIALIZED (SELECT id, min(lbl) component FROM cc GROUP BY id),
         |tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens
         |  FROM s4),
         |ranked AS (SELECT c2.id doc_id, c2.component,
         |    row_number() OVER (PARTITION BY c2.component
         |      ORDER BY t.n_tokens DESC, c2.id) rn
         |  FROM comp c2 JOIN tok t ON t.doc_id = c2.id),
         |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT id FROM comp)
         |  OR doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)),
         |s6 AS (SELECT * FROM s5 QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
         |    doc_id) <= ${c.samplePerSource}),
         |k AS (SELECT s6.doc_id, coalesce(c3.component, s6.doc_id) split_key
         |  FROM s6 LEFT JOIN comp c3 ON c3.id = s6.doc_id),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
         |       ELSE 'test' END split
         |  FROM (SELECT doc_id,
         |    (((split_key % 2147483647) * 1103515245 + 12345) % 2147483647
         |        * 48271 + 11) % 2147483647
         |      * 10000 // 2147483647 bp FROM k))
         |SELECT CAST(0 AS INT) stage_idx, 'input' stage, (SELECT count(*) FROM documents) n_docs
         |UNION ALL SELECT 1, 'normalize', (SELECT count(*) FROM s0)
         |UNION ALL SELECT 2, 'lang', (SELECT count(*) FROM s1)
         |UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 4, 'repetition', (SELECT count(*) FROM s3)
         |UNION ALL SELECT 5, 'exact_dedup', (SELECT count(*) FROM s4)
         |UNION ALL SELECT 6, 'canonical', (SELECT count(*) FROM s5)
         |UNION ALL SELECT 7, 'sample', (SELECT count(*) FROM s6)
         |UNION ALL SELECT 8, 'split_train', (SELECT count(*) FROM sp WHERE split = 'train')
         |UNION ALL SELECT 9, 'split_val', (SELECT count(*) FROM sp WHERE split = 'val')
         |UNION ALL SELECT 10, 'split_test', (SELECT count(*) FROM sp WHERE split = 'test')""".stripMargin
    },

    // Bloom gate: the true semi-join count is recomputed; the filter's
    // no-false-negative guarantee and bounded fp rate must hold.
    "q46_bloom_prefilter" ->
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT (SELECT count(*) FROM customer
        |        WHERE EXISTS (SELECT 1 FROM u WHERE o_custkey = c_custkey)) n_exact,
        |  TRUE no_false_negatives, TRUE fp_ok""".stripMargin,

    // Heavy-hitters gate: the exact top-k tokens + counts are recomputed
    // here; the SpaceSaving sketch's containment and estimate-bound
    // booleans must come back TRUE (q17 pattern).
    "q44_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) term FROM documents),
        |c AS (SELECT term, count(*) occurrences FROM w GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, term) AS INT) rk,
        |  term, occurrences, TRUE sk_contains, TRUE sk_est_ok
        |FROM c ORDER BY occurrences DESC, term LIMIT 3""".stripMargin,

    // Exact two-sample KS per source vs rest: integer cumulative counts,
    // one division at the end, rounded — engine-reproducible.
    "q49_ks_drift" ->
      """WITH g AS (SELECT source, count(*) n_grp FROM documents GROUP BY 1),
        |v AS (SELECT DISTINCT n_chars v FROM documents),
        |c AS (SELECT source, n_chars v, count(*) c FROM documents GROUP BY 1, 2),
        |gc AS (SELECT n_chars v, count(*) cg FROM documents GROUP BY 1),
        |t AS (SELECT count(*) n_total FROM documents),
        |grid AS (SELECT g.source, g.n_grp, v.v, coalesce(c.c, 0) c, gc.cg, t.n_total
        |  FROM g CROSS JOIN v
        |  JOIN gc USING (v)
        |  LEFT JOIN c ON c.source = g.source AND c.v = v.v
        |  CROSS JOIN t),
        |cum AS (SELECT source, n_grp, n_total,
        |  sum(c) OVER (PARTITION BY source ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumS,
        |  sum(cg) OVER (PARTITION BY source ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumG
        |  FROM grid)
        |SELECT source, n_grp,
        |  round(max(CASE WHEN n_total = n_grp THEN 0.0
        |    ELSE abs(cumS / n_grp::DOUBLE
        |      - (cumG - cumS) / (n_total - n_grp)::DOUBLE) END), 6) ks
        |FROM cum GROUP BY source, n_grp""".stripMargin,

    // Column profile: same metric set per column kind as Profile.profile.
    "q56_profile" -> profileSql("orders", Seq(
      ("o_orderkey", "int"), ("o_custkey", "int"), ("o_totalprice", "frac"),
      ("o_orderstatus", "str"), ("o_orderpriority", "str"),
      ("o_orderdate", "ts"))),

    // Sketch-rollup gate: the oracle recomputes the exact distinct spine;
    // the estimate and merge-consistency booleans must come back TRUE.
    "q55_sketch_rollup" ->
      """SELECT event_type, count(DISTINCT user_id) n_exact,
        |  TRUE est_ok, TRUE merge_ok
        |FROM events GROUP BY event_type""".stripMargin,

    // Count-min gate: same exact spine as q44; the sketch's one-sided
    // lower bound and overestimate budget must come back TRUE.
    "q48_countmin" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) term FROM documents),
        |c AS (SELECT term, count(*) occurrences FROM w GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, term) AS INT) rk,
        |  term, occurrences, TRUE cm_lower_ok, TRUE cm_err_ok
        |FROM c ORDER BY occurrences DESC, term LIMIT 3""".stripMargin,

    // Same smoothed idf and the same 6-dp rounding BEFORE ranking, so the
    // (tfidf DESC, term) order is computed over identical values.
    "q42_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM w GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |  round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1), 6) tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INT) rk
        |FROM s QUALIFY rk <= 3""".stripMargin,

    // float -> double -> decimal in both engines; the decimal sum is
    // order-independent, so the centroid compares exactly.
    "q43_class_centroids" ->
      """WITH f AS (SELECT label, generate_subscripts(embedding, 1) dim,
        |  unnest(embedding) v FROM embeddings)
        |SELECT label, CAST(dim AS INT) dim,
        |  round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        |    / count(*), 6) centroid,
        |  count(*) n_vectors
        |FROM f GROUP BY 1, 2""".stripMargin,

    // The salted join must be value-identical to the plain equi-join.
    "q41_skew_salted_join" ->
      """SELECT s_nationkey,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) revenue,
        |  count(*) n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    // Hot-key profile: DuckDB's / on BIGINTs is float division like Spark.
    "q58_skew_profile" ->
      """WITH c AS (SELECT l_suppkey "key", count(*) n FROM lineitem GROUP BY 1),
        |t AS (SELECT count(*) n_total FROM lineitem)
        |SELECT "key", n, round(n / n_total, 6) AS "share",
        |  CAST(row_number() OVER (ORDER BY n DESC, "key") AS INT) AS "rank"
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, "key" LIMIT 10""".stripMargin,

    // Winsorized stats: bounds rounded to 6 dp in BOTH engines before the
    // clamp, so sums and clamp counts are exactly reproducible.
    "q59_winsorize" ->
      """WITH b AS (SELECT source,
        |    round(quantile_cont(n_chars, 0.05), 6) lo,
        |    round(quantile_cont(n_chars, 0.95), 6) hi
        |  FROM documents GROUP BY source),
        |w AS (SELECT d.source, n_chars,
        |    least(greatest(CAST(n_chars AS DOUBLE), lo), hi) v
        |  FROM documents d JOIN b USING (source))
        |SELECT source, count(*) n_docs,
        |  CAST(count(*) FILTER (v <> CAST(n_chars AS DOUBLE)) AS BIGINT) n_clamped,
        |  round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4) mean_w
        |FROM w GROUP BY source""".stripMargin,

    // Exact percentiles recomputed (quantile_cont = Spark's percentile:
    // linear interpolation at p*(n-1)); the sketch bools must be TRUE.
    "q37_quality_percentiles" ->
      """SELECT source, count(*) n_docs,
        |  round(quantile_cont(n_chars, 0.5), 4) p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 4) p90_chars,
        |  round(quantile_cont(n_chars, 0.99), 4) p99_chars,
        |  TRUE sk50_ok, TRUE sk90_ok, TRUE sk99_ok
        |FROM documents GROUP BY source""".stripMargin,

    // q59's approx-cut gate: exact p05/p95 spine + sketch-inside-window
    // booleans asserted TRUE (the q37 pattern)
    "q69_winsorize_gate" ->
      """SELECT source, count(*) n,
        |  round(quantile_cont(n_chars, 0.05), 4) exact_lo,
        |  round(quantile_cont(n_chars, 0.95), 4) exact_hi,
        |  TRUE lo_ok, TRUE hi_ok
        |FROM documents GROUP BY source""".stripMargin,

    // q68's approx-cut gate: q68's scored-ppl CTE chain, then the exact
    // tercile spine + sketch booleans asserted TRUE
    "q70_ppl_cut_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |bg AS (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
        |    for i in range(1, len(toks))], recursive := true) FROM t),
        |refbg AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |refug AS (SELECT w1, count(*) c1 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1),
        |v AS (SELECT count(DISTINCT u)::DOUBLE v
        |  FROM (SELECT unnest(toks) u FROM t WHERE doc_id % 2 = 0)),
        |s AS (SELECT b.doc_id, ln((coalesce(c12, 0) + 1)::DOUBLE / (coalesce(c1, 0) + v)) lnp
        |  FROM bg b LEFT JOIN refbg USING (w1, w2) LEFT JOIN refug USING (w1) CROSS JOIN v
        |  WHERE b.doc_id % 2 = 1),
        |h AS (SELECT doc_id, round(-sum(lnp) / count(*), 4) cross_entropy FROM s GROUP BY doc_id),
        |ps AS (SELECT h.doc_id, d.source, round(exp(cross_entropy), 2) ppl
        |  FROM h JOIN documents d USING (doc_id))
        |SELECT source, count(*) n,
        |  round(quantile_cont(ppl, 1.0/3), 4) exact_lo,
        |  round(quantile_cont(ppl, 2.0/3), 4) exact_hi,
        |  TRUE lo_ok, TRUE hi_ok
        |FROM ps GROUP BY source""".stripMargin,

    // Duplicated-span stats: positions covered by a corpus-wide repeated
    // 8-gram. Spark joins on xxhash64(gram); the oracle joins on the gram
    // text itself — equality of the per-doc coverage counts is the
    // no-meaningful-collisions check.
    "q71_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest([{'p': i - 1,
        |    'gram': array_to_string(toks[i:i+7], ' ')}
        |    for i in range(1, greatest(len(toks) - 6, 1))], recursive := true) FROM t),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos
        |  FROM g JOIN dup USING (gram)),
        |c AS (SELECT doc_id, count(*) dp FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, len(toks) n_tokens,
        |  coalesce(dp, 0) dup_positions,
        |  round(coalesce(dp, 0)::DOUBLE / len(toks), 6) dup_fraction
        |FROM t LEFT JOIN c USING (doc_id)""".stripMargin,

    // Span REMOVAL: q71's grams + canonical first occurrence per repeated
    // gram (row_number over (doc, pos)); drop = all-coverage anti-join
    // canonical-coverage; tokens filter in place by dropped index.
    "q78_span_removal" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest([{'p': i - 1,
        |    'gram': array_to_string(toks[i:i+7], ' ')}
        |    for i in range(1, greatest(len(toks) - 6, 1))], recursive := true) FROM t),
        |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, p, gram,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) rn
        |  FROM g JOIN rep USING (gram)),
        |keepc AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos
        |  FROM occ WHERE rn = 1),
        |allc AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos FROM occ),
        |dropp AS (SELECT doc_id, pos FROM allc ANTI JOIN keepc USING (doc_id, pos)),
        |dl AS (SELECT doc_id, list_sort(list(pos)) drops FROM dropp GROUP BY doc_id)
        |SELECT t.doc_id, len(toks)::BIGINT n_tokens,
        |  coalesce(len(drops), 0)::BIGINT n_dropped,
        |  CASE WHEN drops IS NULL THEN text
        |       -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
        |       -- array_join of an all-dropped doc is '' — '' is the semantic
        |       ELSE coalesce(array_to_string([toks[i+1] for i in range(0, len(toks))
        |                             if NOT list_contains(drops, i)], ' '), '')
        |  END text_clean
        |FROM t LEFT JOIN dl USING (doc_id)""".stripMargin,

    // Maximal duplicated spans: q71's coverage coalesced into per-doc
    // runs by the gaps-and-islands rule (pos - row_number constant along
    // a run), kept at >= 16 tokens.
    "q111_maximal_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest([{'p': i - 1,
        |    'gram': array_to_string(toks[i:i+7], ' ')}
        |    for i in range(1, greatest(len(toks) - 6, 1))], recursive := true) FROM t),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos
        |  FROM g JOIN dup USING (gram)),
        |i AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) isl FROM cov)
        |SELECT doc_id, min(pos) span_start, count(*) span_len
        |FROM i GROUP BY doc_id, isl HAVING count(*) >= 16""".stripMargin,

    // q78's removal with the drop set coalesced into maximal runs and
    // thresholded at 16 tokens (the ExactSubstr minimum-length contract).
    "q112_span_removal_long" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest([{'p': i - 1,
        |    'gram': array_to_string(toks[i:i+7], ' ')}
        |    for i in range(1, greatest(len(toks) - 6, 1))], recursive := true) FROM t),
        |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, p, gram,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) rn
        |  FROM g JOIN rep USING (gram)),
        |keepc AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos
        |  FROM occ WHERE rn = 1),
        |allc AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) pos FROM occ),
        |dropp AS (SELECT doc_id, pos FROM allc ANTI JOIN keepc USING (doc_id, pos)),
        |di AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) isl FROM dropp),
        |dspan AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, isl) l FROM di)
        |  WHERE l >= 16),
        |dl AS (SELECT doc_id, list_sort(list(pos)) drops FROM dspan GROUP BY doc_id)
        |SELECT t.doc_id, len(toks)::BIGINT n_tokens,
        |  coalesce(len(drops), 0)::BIGINT n_dropped,
        |  CASE WHEN drops IS NULL THEN text
        |       ELSE coalesce(array_to_string([toks[i+1] for i in range(0, len(toks))
        |                             if NOT list_contains(drops, i)], ' '), '')
        |  END text_clean
        |FROM t LEFT JOIN dl USING (doc_id)""".stripMargin,

    // Line-wise dedup over the deterministically LINED corpus (8-token
    // lines): the boilerplate key is the normalized line STRING (the
    // q71-style text twin of the operator's xxhash64 key — also the
    // collision check); string_agg(ORDER BY pos) rebuilds text_clean
    // exactly as array_join skips the nulled-out lines.
    "q113_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |ld AS (SELECT doc_id,
        |    [array_to_string(toks[i*8+1 : i*8+8], ' ')
        |     for i in range(0, cast(ceil(len(toks)/8.0) AS INT))] lines FROM t),
        |lx AS (SELECT doc_id, unnest(lines) line,
        |    generate_subscripts(lines, 1) - 1 pos FROM ld),
        |nz AS (SELECT doc_id, pos, line,
        |    lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) k
        |  FROM lx WHERE len(trim(line)) > 0),
        |bl AS (SELECT k FROM nz GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
        |dr AS (SELECT doc_id, pos FROM nz WHERE k IN (SELECT k FROM bl)),
        |agg AS (SELECT doc_id, count(*) nrem FROM dr GROUP BY doc_id),
        |keepl AS (SELECT l.doc_id, l.pos, l.line
        |  FROM lx l ANTI JOIN dr USING (doc_id, pos)),
        |txt AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) text_clean
        |  FROM keepl GROUP BY doc_id),
        |cnt AS (SELECT doc_id,
        |    len(list_filter(lines, l -> len(trim(l)) > 0)) nc FROM ld)
        |SELECT c.doc_id, c.nc::BIGINT n_lines,
        |  coalesce(a.nrem, 0)::BIGINT n_removed,
        |  round(CASE WHEN c.nc > 0
        |    THEN coalesce(a.nrem, 0) / c.nc::DOUBLE ELSE 0.0 END, 4) removed_frac,
        |  (CASE WHEN c.nc > 0
        |    THEN coalesce(a.nrem, 0) / c.nc::DOUBLE ELSE 0.0 END) <= 0.5 keep,
        |  coalesce(x.text_clean, '') text_clean
        |FROM cnt c LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN txt x USING (doc_id)""".stripMargin,

    // Intra-doc line dedup over the same deterministic re-lining at
    // width 2: first occurrence per (doc, normalized line) survives,
    // later ones drop. Dedups on the normalized STRING where Spark uses
    // xxhash64 — the twin doubles as the collision check (q71 rule).
    "q122_intradoc_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents
        |  WHERE text IS NOT NULL),
        |ld AS (SELECT doc_id,
        |    [array_to_string(toks[i*2+1 : i*2+2], ' ')
        |     for i in range(0, cast(ceil(len(toks)/2.0) AS INT))] lines FROM t),
        |lx AS (SELECT doc_id, unnest(lines) line,
        |    generate_subscripts(lines, 1) - 1 pos FROM ld),
        |nz AS (SELECT doc_id, pos, line,
        |    lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) k
        |  FROM lx WHERE len(trim(line)) > 0),
        |fo AS (SELECT doc_id, k, min(pos) fp FROM nz GROUP BY doc_id, k),
        |dr AS (SELECT n.doc_id, n.pos FROM nz n
        |  JOIN fo f ON n.doc_id = f.doc_id AND n.k = f.k WHERE n.pos > f.fp),
        |agg AS (SELECT doc_id, count(*) nd FROM dr GROUP BY doc_id),
        |keepl AS (SELECT l.doc_id, l.pos, l.line
        |  FROM lx l ANTI JOIN dr USING (doc_id, pos)),
        |txt AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) text_clean
        |  FROM keepl GROUP BY doc_id),
        |cnt AS (SELECT doc_id,
        |    len(list_filter(lines, l -> len(trim(l)) > 0)) nc FROM ld)
        |SELECT c.doc_id, c.nc::BIGINT n_lines,
        |  coalesce(a.nd, 0)::BIGINT n_dupes,
        |  round(CASE WHEN c.nc > 0
        |    THEN coalesce(a.nd, 0) / c.nc::DOUBLE ELSE 0.0 END, 4) dup_frac,
        |  (CASE WHEN c.nc > 0
        |    THEN coalesce(a.nd, 0) / c.nc::DOUBLE ELSE 0.0 END) <= 0.5 keep,
        |  coalesce(x.text_clean, '') text_clean
        |FROM cnt c LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN txt x USING (doc_id)""".stripMargin,

    // Latest-wins upsert: update rows (version 1) replace base rows for
    // their key; src breaks the tie exactly like upsert's _src column.
    "q50_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(0 AS BIGINT) ver, 0 src FROM orders),
        |upd AS (SELECT o_orderkey, 'U' o_orderstatus,
        |    o_totalprice + 1000.0 o_totalprice, CAST(1 AS BIGINT) ver, 1 src
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, ver FROM u
        |QUALIFY row_number()
        |  OVER (PARTITION BY o_orderkey ORDER BY ver DESC, src DESC) = 1""".stripMargin,

    // SCD2 change intervals: keep rows where event_type changed vs the
    // previous row per user, validity ends at the NEXT change (NULL = open).
    "q51_scd_intervals" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) us, event_type
        |  FROM events),
        |c AS (SELECT *, lag(event_type)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id) prev FROM e),
        |ch AS (SELECT user_id, event_id, us, event_type FROM c
        |  WHERE prev IS NULL OR event_type <> prev)
        |SELECT user_id, event_type, us valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) valid_to_us
        |FROM ch""".stripMargin,

    // The Spark side wraps the utf-8 text bytes in a REAL container (P6
    // PPM for even ids, 24-bpp BMP for odd) and decodes the actual header
    // back; the oracle reproduces the container geometry arithmetically:
    // w = 16 + n%49, h = ceil(n/3w), PPM size = "P6\n"+w+" "+h+"\n255\n"
    // + 3wh, BMP size = 54 + 4-byte-padded rows. octet_length(encode(..)),
    // not length(..): bytes, not characters.
    "q40_multimodal_meta" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT n FROM documents),
        |d AS (SELECT doc_id, n, (16 + n % 49)::BIGINT w FROM b),
        |e AS (SELECT doc_id, n, w,
        |        greatest(1, (n + 3*w - 1) // (3*w))::BIGINT h FROM d)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END fmt,
        |  (CASE WHEN doc_id % 2 = 0
        |        THEN 9 + length(w::VARCHAR) + length(h::VARCHAR) + 3*w*h
        |        ELSE 54 + ((3*w + 3) // 4) * 4 * h END)::BIGINT n_bytes,
        |  w::INT width, h::INT height
        |FROM e""".stripMargin,

    // WAV container geometry: 16-bit PCM, mono/stereo by id parity, rate
    // cycled by payload length, data padded to a frame boundary, +12-byte
    // LIST chunk every third id. The decode walks the real chunks; the
    // oracle recomputes the arithmetic the encoder used.
    "q72_audio_meta" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT n FROM documents),
        |d AS (SELECT doc_id, n, (1 + doc_id % 2)::INT channels,
        |        ([8000, 16000, 22050, 44100])[(n % 4 + 1)::INT]::INT sample_rate FROM b),
        |e AS (SELECT doc_id, n, channels, sample_rate, 2 * channels block,
        |        (n + 2 * channels - 1) // (2 * channels) n_samples FROM d)
        |SELECT doc_id, 'wav' fmt,
        |  (44 + n_samples * block
        |      + CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END)::BIGINT n_bytes,
        |  sample_rate, channels, 16::INT bits,
        |  n_samples::BIGINT n_samples,
        |  (n_samples * 1000 // sample_rate)::BIGINT duration_ms
        |FROM e""".stripMargin,
    // MP4 container geometry: every output column is integer arithmetic
    // over the payload length + id parity, mirroring encodeMp4 (clock pair
    // by n%4, frames = n//64+1, fixed box sizes 144 + 176/track + optional
    // 16-byte free box, stride-10 frame sampling).
    "q81_video_meta" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT n FROM documents),
        |d AS (SELECT doc_id, n,
        |        ([600, 1000, 12288, 90000])[(n % 4 + 1)::INT]::INT timescale,
        |        ([25, 40, 512, 3000])[(n % 4 + 1)::INT]::BIGINT frame_dur,
        |        (1 + doc_id % 2)::INT n_tracks,
        |        (n // 64 + 1)::BIGINT n_frames FROM b)
        |SELECT doc_id, 'mp4' fmt,
        |  (144 + 176 * n_tracks + n
        |      + CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 0 END)::BIGINT n_bytes,
        |  timescale,
        |  (n_frames * frame_dur)::BIGINT duration_units,
        |  (n_frames * frame_dur * 1000 // timescale)::BIGINT duration_ms,
        |  n_tracks, n_frames,
        |  ((n_frames + 9) // 10)::BIGINT n_frames_sampled
        |FROM d""".stripMargin,

    // Length-bucketed batching: band/position/batch all integer arithmetic
    // on the q80 id-hash order — exact on any engine and partitioning.
    "q83_length_batches" ->
      """WITH t AS (SELECT doc_id,
        |        len(string_split(text, ' '))::BIGINT dl
        |      FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, dl, dl // 16 band,
        |        ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 h FROM t),
        |r AS (SELECT doc_id, dl, band,
        |        row_number() OVER (PARTITION BY band ORDER BY h, doc_id) - 1 pos FROM b)
        |SELECT doc_id, dl n_tokens, band,
        |  pos::BIGINT pos_in_band, (pos // 32)::BIGINT batch_id
        |FROM r""".stripMargin,

    // Asymmetric containment pairs: directed brute-force twin of the
    // prefix-filtered candidate path (losslessness proven in Dedup.scala).
    "q102_containment" ->
      s"""WITH ${shingleCtesOver("documents")},
         |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
         |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 4) c
         |  FROM s a JOIN s b ON a.doc_id != b.doc_id)
         |SELECT id_a contained_id, id_b container_id, c containment
         |FROM p WHERE c >= 0.8""".stripMargin,

    // Chunk-level language mixture: the q84 NB model scored at q73 chunk
    // grain (window = stride = 16), votes re-aggregated per doc; majority
    // pick packs (votes, classIndex) into one long like NaiveBayes.scala.
    "q101_lang_mixture" ->
      """WITH base AS (SELECT doc_id, lang, string_split(text, ' ') toks
        |              FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT * FROM base WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, toks FROM base WHERE doc_id % 2 = 1),
        |ct AS (SELECT lang, sum(len(toks))::BIGINT tokens_c,
        |         count(*)::BIGINT docs_c FROM tr GROUP BY lang),
        |ci AS (SELECT lang, row_number() OVER (ORDER BY lang) - 1 idx FROM ct),
        |n AS (SELECT sum(docs_c)::BIGINT n FROM ct),
        |tok AS (SELECT lang, unnest(toks) t FROM tr),
        |v AS (SELECT count(DISTINCT t)::BIGINT v FROM tok),
        |cnt AS (SELECT lang, t, count(*)::BIGINT c FROM tok GROUP BY 1, 2),
        |ch AS (SELECT doc_id, toks, len(toks)::BIGINT L,
        |        CASE WHEN len(toks) <= 16 THEN 1
        |             ELSE (len(toks) - 16 + 15) // 16 + 1 END nc
        |      FROM te),
        |ck AS (SELECT doc_id, unnest(range(0, nc)) k, toks FROM ch),
        |ctok AS (SELECT doc_id, k chunk_id, unnest(toks[k*16+1 : k*16+16]) t FROM ck),
        |tfc AS (SELECT doc_id, chunk_id, t, count(*)::BIGINT tf
        |        FROM ctok GROUP BY 1, 2, 3),
        |sc AS (SELECT tfc.doc_id, tfc.chunk_id, ct.lang cls,
        |         round(ln(ct.docs_c * 1.0 / n.n)
        |           + sum(tfc.tf * ln((coalesce(cnt.c, 0) + 1.0)
        |                             / (ct.tokens_c + v.v))), 4) s
        |       FROM tfc CROSS JOIN ct CROSS JOIN n CROSS JOIN v
        |       LEFT JOIN cnt ON cnt.lang = ct.lang AND cnt.t = tfc.t
        |       GROUP BY tfc.doc_id, tfc.chunk_id, ct.lang, ct.docs_c,
        |                ct.tokens_c, n.n, v.v),
        |pr AS (SELECT doc_id, chunk_id, cls pred,
        |        row_number() OVER (PARTITION BY doc_id, chunk_id
        |          ORDER BY s DESC, cls) rn
        |      FROM sc),
        |vo AS (SELECT doc_id, pred, count(*)::BIGINT c
        |       FROM pr WHERE rn = 1 GROUP BY 1, 2),
        |vi AS (SELECT vo.*, ci.idx FROM vo JOIN ci ON ci.lang = vo.pred),
        |ag AS (SELECT doc_id, sum(c)::BIGINT n_chunks, count(*)::BIGINT n_langs,
        |        max(c*16 + (15 - idx))::BIGINT mk,
        |        sum(c * ln(c)) clnc
        |       FROM vi GROUP BY 1),
        |cl AS (SELECT list(lang ORDER BY lang) ls FROM ci)
        |SELECT doc_id, n_chunks, n_langs,
        |  ls[(16 - (mk % 16))::INT] major_pred,
        |  round(ln(n_chunks) - clnc / n_chunks, 4) + 0.0 mix_entropy,
        |  (CASE WHEN n_langs > 1 THEN 1 ELSE 0 END)::INT is_mixed
        |FROM ag CROSS JOIN cl""".stripMargin,

    // Epoch-capped token-budget water-fill (all LONG arithmetic): sorted-
    // prefix capping condition, equal integer shares, LCG-ordered partial
    // epoch — Budget.scala's closed form written as windows.
    "q100_token_budget" ->
      """WITH t AS (SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT n_tokens
        |           FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |ls AS (SELECT lang, sum(n_tokens)::BIGINT tok FROM t GROUP BY 1
        |       HAVING sum(n_tokens) > 0),
        |p AS (SELECT count(*)::BIGINT s, (sum(tok) * 16) // 10 b FROM ls),
        |o AS (SELECT lang, tok, 2*tok cap,
        |        row_number() OVER (ORDER BY 2*tok, lang) i,
        |        sum(2*tok) OVER (ORDER BY 2*tok, lang ROWS UNBOUNDED PRECEDING) c
        |      FROM ls),
        |f AS (SELECT o.*, s, b,
        |        CASE WHEN cap*(s - i + 1) <= b - (c - cap) THEN 1 ELSE 0 END capped
        |      FROM o CROSS JOIN p),
        |kk AS (SELECT sum(capped)::BIGINT k,
        |         coalesce(sum(CASE WHEN capped = 1 THEN cap END), 0)::BIGINT ck
        |       FROM f),
        |q AS (SELECT lang, tok,
        |        CASE WHEN capped = 1 THEN cap
        |             ELSE (b - ck) // NULLIF(s - k, 0) END quota
        |      FROM f CROSS JOIN kk),
        |d AS (SELECT doc_id, lang, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY lang
        |          ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
        |            doc_id ROWS UNBOUNDED PRECEDING) cs
        |      FROM t)
        |SELECT d.doc_id, d.lang, d.n_tokens,
        |  (quota // tok + CASE WHEN cs <= quota % tok THEN 1 ELSE 0 END)::BIGINT n_repeats
        |FROM d JOIN q USING (lang)""".stripMargin,

    // Margin-based bitext mining: 6-dp cosines, top-4 ranked (c DESC, id),
    // neighborhood means as exact DECIMAL sums cast to DOUBLE, 6-dp margin,
    // mutual argmax with id tie-break — the Bitext.scala disciplines 1:1.
    "q99_bitext_margin" -> q99BitextSql,

    // q99b gate: n_exact = the exact q99 pipeline recounted over the same
    // id-bounded subsample both Spark paths use; recall_ok is the
    // Spark-side LSH-vs-exact bound (see Bitext.marginMineGate).
    "q99b_bitext_margin_lsh" ->
      ("SELECT count(*)::BIGINT n_exact, TRUE recall_ok FROM (" +
        q99BitextSqlWhere(" AND vec_id < 2000") + ")"),

    // Retention cohorts: distinct (user, day), first day = cohort, one
    // count per (cohort, offset), rate vs the cohort's size.
    "q98_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events),
        |fd AS (SELECT user_id, min(d) cohort_date FROM ud GROUP BY 1),
        |sz AS (SELECT cohort_date, count(*)::BIGINT cohort_size FROM fd GROUP BY 1),
        |a AS (SELECT cohort_date, (d - cohort_date)::INT day_offset,
        |        count(*)::BIGINT n_users
        |      FROM ud JOIN fd USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_date, day_offset, n_users, cohort_size,
        |  round(n_users::DOUBLE / cohort_size, 4) retention
        |FROM a JOIN sz USING (cohort_date)""".stripMargin,

    // Session funnel: q12's session labeling at event grain, then each
    // step = conditional min bounded by the previous step's first time.
    "q97_session_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) prev_us FROM e),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END new_sess FROM l),
        |s AS (SELECT user_id, event_type, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_seq FROM f),
        |s0 AS (SELECT user_id, session_seq,
        |         min(CASE WHEN event_type = 'view' THEN us END) t0
        |       FROM s GROUP BY 1, 2),
        |s1 AS (SELECT s.user_id, s.session_seq, min(t0) t0,
        |         min(CASE WHEN event_type = 'click' AND us >= t0 THEN us END) t1
        |       FROM s JOIN s0 USING (user_id, session_seq) GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.session_seq, min(t0) t0, min(t1) t1,
        |         min(CASE WHEN event_type = 'purchase' AND us >= t1 THEN us END) t2
        |       FROM s JOIN s1 USING (user_id, session_seq) GROUP BY 1, 2),
        |r AS (SELECT count(*)::BIGINT n_sessions, count(t0)::BIGINT r0,
        |        count(t1)::BIGINT r1, count(t2)::BIGINT r2 FROM s2)
        |SELECT step, event_type, n_sessions, n_reached,
        |  round(n_reached::DOUBLE / n_sessions, 4) rate_from_start,
        |  round(n_reached::DOUBLE / prev, 4) rate_from_prev
        |FROM (
        |  SELECT 1 step, 'view' event_type, n_sessions, r0 n_reached, n_sessions prev FROM r
        |  UNION ALL SELECT 2, 'click', n_sessions, r1, r0 FROM r
        |  UNION ALL SELECT 3, 'purchase', n_sessions, r2, r1 FROM r)""".stripMargin,

    // JSON props summary: typed extraction then plain aggregation; both
    // engines count only rows where the field parses (NULL otherwise).
    "q96_json_props" ->
      """WITH x AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) k FROM events)
        |SELECT event_type, count(*)::BIGINT n_events,
        |  count(k)::BIGINT n_with_k, sum(k)::BIGINT sum_k,
        |  round(sum(k)::DOUBLE / count(k), 4) avg_k,
        |  min(k) min_k, max(k) max_k
        |FROM x GROUP BY 1""".stripMargin,

    // Padding-waste report: q83's banded batches vs naive id-blocks,
    // padded cost = n_docs × max_len per batch, 2-row rollup.
    "q95_padding_waste" ->
      """WITH t AS (SELECT doc_id,
        |        len(string_split(text, ' '))::BIGINT dl
        |      FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, dl, dl // 16 band,
        |        ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 h FROM t),
        |r AS (SELECT doc_id, dl, band,
        |        row_number() OVER (PARTITION BY band ORDER BY h, doc_id) - 1 pos FROM b),
        |bb AS (SELECT band, pos // 32 batch_id, count(*)::BIGINT n,
        |        max(dl) mx, sum(dl)::BIGINT "real" FROM r GROUP BY 1, 2),
        |nb AS (SELECT doc_id // 32 batch_id, count(*)::BIGINT n,
        |        max(dl) mx, sum(dl)::BIGINT "real" FROM t GROUP BY 1),
        |u AS (SELECT 'banded' strategy, count(*)::BIGINT n_batches,
        |        sum(n)::BIGINT n_docs, sum("real")::BIGINT real_tokens,
        |        sum(n*mx)::BIGINT padded_tokens FROM bb
        |      UNION ALL
        |      SELECT 'naive', count(*)::BIGINT, sum(n)::BIGINT,
        |        sum("real")::BIGINT, sum(n*mx)::BIGINT FROM nb)
        |SELECT strategy, n_batches, n_docs, real_tokens, padded_tokens,
        |  round(1.0 - real_tokens::DOUBLE / padded_tokens, 6) waste
        |FROM u""".stripMargin,

    // Trained-in-query multinomial NB language classifier: the (doc x
    // class) cross-join twin of the pivoted broadcast model; identical
    // Laplace formula, prior-plus-sum shape, 4-dp rounding before the
    // argmax, smallest-class tiebreak.
    "q84_nb_langid" ->
      """WITH base AS (SELECT doc_id, lang, string_split(text, ' ') toks
        |              FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT * FROM base WHERE doc_id % 2 = 0),
        |te AS (SELECT * FROM base WHERE doc_id % 2 = 1),
        |ct AS (SELECT lang, sum(len(toks))::BIGINT tokens_c,
        |         count(*)::BIGINT docs_c FROM tr GROUP BY lang),
        |n AS (SELECT sum(docs_c)::BIGINT n FROM ct),
        |tok AS (SELECT lang, unnest(toks) t FROM tr),
        |v AS (SELECT count(DISTINCT t)::BIGINT v FROM tok),
        |cnt AS (SELECT lang, t, count(*)::BIGINT c FROM tok GROUP BY 1, 2),
        |tfc AS (SELECT doc_id, lang actual, t, count(*)::BIGINT tf
        |        FROM (SELECT doc_id, lang, unnest(toks) t FROM te)
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT tfc.doc_id, tfc.actual, ct.lang cls,
        |         round(ln(ct.docs_c * 1.0 / n.n)
        |           + sum(tfc.tf * ln((coalesce(cnt.c, 0) + 1.0)
        |                             / (ct.tokens_c + v.v))), 4) s
        |       FROM tfc CROSS JOIN ct CROSS JOIN n CROSS JOIN v
        |       LEFT JOIN cnt ON cnt.lang = ct.lang AND cnt.t = tfc.t
        |       GROUP BY tfc.doc_id, tfc.actual, ct.lang, ct.docs_c,
        |                ct.tokens_c, n.n, v.v),
        |rk AS (SELECT doc_id, actual, cls,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) rn
        |       FROM sc)
        |SELECT doc_id, actual lang, cls pred,
        |  (CASE WHEN actual = cls THEN 1 ELSE 0 END)::INT correct
        |FROM rk WHERE rn = 1""".stripMargin,

    // Okapi BM25 (k1=1.2, b=0.75): every double operation written in the
    // same order as the Spark expression (incl. computing k1+1 as the SUM
    // 1.2 + 1.0 — the two engines must run the identical IEEE add, not
    // parse the literal 2.2); ln(1 + ...) keeps idf positive so 4-dp
    // rounding can't straddle zero; ranking on the ROUNDED score with a
    // doc_id tiebreak is engine-independent.
    "q82_bm25_topk" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') toks
        |           FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, lang, len(toks)::BIGINT dl,
        |        len(list_filter(toks, x -> x = 'spark'))::BIGINT tf0,
        |        len(list_filter(toks, x -> x = 'vector'))::BIGINT tf1,
        |        len(list_filter(toks, x -> x = 'customer'))::BIGINT tf2 FROM t),
        |s AS (SELECT count(*)::BIGINT n, sum(dl)::BIGINT tt,
        |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT df0,
        |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT df1,
        |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT df2 FROM b),
        |sc AS (SELECT lang, doc_id, round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (0.25 + 0.75 * dl * n / tt)), 4) bm25
        |  FROM b, s WHERE tf0 + tf1 + tf2 > 0)
        |SELECT lang, doc_id, bm25,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY bm25 DESC, doc_id) AS INT) rk
        |FROM sc QUALIFY rk <= 10""".stripMargin,

    // The indexed path's contract is exact equality with the full scan,
    // so its twin IS q82's (the q117b precedent): any divergence between
    // the postings artifact + pruned probe and the straight formula
    // shows up as a hash mismatch here.
    "q82b_bm25_indexed" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') toks
        |           FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, lang, len(toks)::BIGINT dl,
        |        len(list_filter(toks, x -> x = 'spark'))::BIGINT tf0,
        |        len(list_filter(toks, x -> x = 'vector'))::BIGINT tf1,
        |        len(list_filter(toks, x -> x = 'customer'))::BIGINT tf2 FROM t),
        |s AS (SELECT count(*)::BIGINT n, sum(dl)::BIGINT tt,
        |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT df0,
        |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT df1,
        |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT df2 FROM b),
        |sc AS (SELECT lang, doc_id, round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (0.25 + 0.75 * dl * n / tt)), 4) bm25
        |  FROM b, s WHERE tf0 + tf1 + tf2 > 0)
        |SELECT lang, doc_id, bm25,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY bm25 DESC, doc_id) AS INT) rk
        |FROM sc QUALIFY rk <= 10""".stripMargin,

    // Mixed-producer grow (r16 verdict #1): BM25 append maintenance is
    // EXACT, so an index grown by interleaved mb-/day- appendBatch calls
    // probes bit-identical to the full-scan formula — the twin is q82's
    // VERBATIM (the q82b discipline). A hash mismatch here means the
    // two-producer protocol lost or doubled a batch.
    "q82c_bm25_mixed_grow" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') toks
        |           FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, lang, len(toks)::BIGINT dl,
        |        len(list_filter(toks, x -> x = 'spark'))::BIGINT tf0,
        |        len(list_filter(toks, x -> x = 'vector'))::BIGINT tf1,
        |        len(list_filter(toks, x -> x = 'customer'))::BIGINT tf2 FROM t),
        |s AS (SELECT count(*)::BIGINT n, sum(dl)::BIGINT tt,
        |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT df0,
        |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT df1,
        |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT df2 FROM b),
        |sc AS (SELECT lang, doc_id, round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (0.25 + 0.75 * dl * n / tt))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (0.25 + 0.75 * dl * n / tt)), 4) bm25
        |  FROM b, s WHERE tf0 + tf1 + tf2 > 0)
        |SELECT lang, doc_id, bm25,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY bm25 DESC, doc_id) AS INT) rk
        |FROM sc QUALIFY rk <= 10""".stripMargin,

    // Overlapping token-window chunks: integer chunk-count arithmetic,
    // slices truncate at the doc end in both engines.
    "q73_doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks)::BIGINT L,
        |  CASE WHEN len(toks) <= 32 THEN 1
        |       ELSE (len(toks) - 32 + 23) // 24 + 1 END nc FROM t),
        |c AS (SELECT doc_id, toks, L, unnest(range(0, nc)) k FROM n)
        |SELECT doc_id, k chunk_id, (k * 24)::BIGINT start_tok,
        |  least(32, L - k * 24)::BIGINT n_tokens,
        |  array_to_string(toks[k*24+1 : k*24+32], ' ') chunk_text
        |FROM c""".stripMargin,

    // Temperature-0.5 mixture quotas: per-source weight = round(sqrt(n),6)
    // summed as DECIMAL (exact), quota = floor(1000 * w/W) in one double
    // multiply+divide — then the q35 id-hash rank inside each source.
    "q74_mixture_resample" ->
      """WITH c AS (SELECT source, count(*) n_s FROM documents GROUP BY 1),
        |w AS (SELECT source, round(sqrt(n_s), 6)::DECIMAL(18,6) w FROM c),
        |tw AS (SELECT sum(w) tot FROM w),
        |q AS (SELECT source,
        |  floor(1000 * (w::DOUBLE / tot::DOUBLE))::BIGINT quota
        |  FROM w CROSS JOIN tw)
        |SELECT doc_id, d.source, lang FROM documents d JOIN q USING (source)
        |QUALIFY row_number() OVER (PARTITION BY d.source
        |  ORDER BY ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
        |    doc_id) <= quota""".stripMargin,

    // Deterministic split: id-hash to basis points, cumulative cuts.
    "q79_train_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
        |       ELSE 'test' END split
        |FROM (SELECT doc_id, source,
        |  (((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647
        |      * 48271 + 11) % 2147483647
        |    * 10000 // 2147483647 bp FROM documents)""".stripMargin,

    // Per-source dedup rates: q20's normalization for the exact side,
    // the jaccard-pair twin's distinct ids for the near-dup side.
    "q110_dedup_stats" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) norm
         |  FROM documents),
         |ex AS (SELECT source, count(*) n_docs,
         |         count(*) - count(DISTINCT norm) n_exact_dups
         |       FROM d GROUP BY 1),
         |ids AS (SELECT DISTINCT id FROM
         |         (SELECT id_a id FROM ($jaccardPairs) p
         |          UNION ALL SELECT id_b FROM ($jaccardPairs) p2)),
         |nd AS (SELECT source, count(*) n_neardup_docs
         |       FROM d JOIN ids ON ids.id = d.doc_id GROUP BY 1)
         |SELECT ex.source, n_docs, n_exact_dups,
         |  coalesce(n_neardup_docs, 0)::BIGINT n_neardup_docs,
         |  round(n_exact_dups::DOUBLE / n_docs, 4) exact_dup_rate,
         |  round(coalesce(n_neardup_docs, 0)::DOUBLE / n_docs, 4) neardup_rate
         |FROM ex LEFT JOIN nd USING (source)""".stripMargin,

    // Cross-source near-dup attribution: the exact jaccard-pair twin
    // tagged with each end's source, aggregated per unordered source
    // pair. mean_jaccard sums the 4-dp pair values as DECIMAL before
    // the divide (the Relational discipline); pair_rate's diagonal
    // denominator n(n-1)/2 is exact in both engines (even product).
    "q118_dedup_source_matrix" ->
      s"""WITH ${jaccardPairCteOver("documents")},
         |pp AS (SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.7),
         |sr AS (SELECT doc_id, coalesce(source, '(null)') src FROM documents),
         |cnt AS (SELECT src, count(*)::BIGINT n FROM sr GROUP BY 1),
         |tagged AS (SELECT pp.id_a, pp.id_b, pp.jaccard,
         |    least(sa.src, sb.src) src_a, greatest(sa.src, sb.src) src_b
         |  FROM pp JOIN sr sa ON pp.id_a = sa.doc_id
         |    JOIN sr sb ON pp.id_b = sb.doc_id),
         |dt AS (SELECT src_a, src_b, count(DISTINCT id)::BIGINT n_docs
         |  FROM (SELECT src_a, src_b, unnest([id_a, id_b]) id FROM tagged)
         |  GROUP BY 1, 2),
         |agg AS (SELECT src_a, src_b, count(*)::BIGINT n_pairs,
         |    sum(jaccard::DECIMAL(20,4)) jsum FROM tagged GROUP BY 1, 2)
         |SELECT a.src_a, a.src_b, a.n_pairs, dt.n_docs,
         |  round(a.jsum::DOUBLE / a.n_pairs, 4) mean_jaccard,
         |  round(a.n_pairs::DOUBLE / (CASE WHEN a.src_a = a.src_b
         |    THEN (ca.n * (ca.n - 1) / 2)::DOUBLE
         |    ELSE (ca.n * cb.n)::DOUBLE END), 8) pair_rate
         |FROM agg a JOIN dt USING (src_a, src_b)
         |  JOIN cnt ca ON a.src_a = ca.src
         |  JOIN cnt cb ON a.src_b = cb.src""".stripMargin,

    // NFC + control-strip twin: DuckDB's nfc_normalize is the same NFC
    // normal form as java.text.Normalizer; the strip class mirrors
    // StringKernels.isStripped exactly (keep \t \n \r, drop other C0,
    // DEL, C1).
    "q109_text_normalize" ->
      """SELECT doc_id,
        |  regexp_replace(nfc_normalize(text),
        |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]', '', 'g')
        |    AS text_norm,
        |  (regexp_replace(nfc_normalize(text),
        |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]', '', 'g')
        |    <> text) AS changed
        |FROM documents""".stripMargin,

    // Curriculum order: (difficulty, idHash, id) global ordinal.
    "q108_curriculum_order" ->
      """SELECT doc_id, n_tokens,
        |  row_number() OVER (ORDER BY n_tokens,
        |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
        |    doc_id) - 1 AS ordinal
        |FROM (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens
        |      FROM documents)""".stripMargin,

    // Mixture interleave: per-source hash-order position k, stride key
    // (2k+1)·10⁶ div (2·bp), global rank by (key, id) — all integers.
    "q115_mixture_interleave" ->
      """WITH h AS (SELECT doc_id, source,
        |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 h
        |  FROM documents),
        |k AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 k
        |  FROM h),
        |ky AS (SELECT doc_id, source,
        |    ((2*k + 1) * 1000000) // (2 * (CASE
        |      WHEN source IN ('src0','src1','src2','src3') THEN 1000
        |      ELSE 375 END)) skey
        |  FROM k)
        |SELECT doc_id, source,
        |  row_number() OVER (ORDER BY skey, doc_id) - 1 AS ordinal
        |FROM ky""".stripMargin,

    // Reproducible global shuffle order: ordinal by (idHash, id).
    "q80_shuffle_order" ->
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY
        |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647,
        |    doc_id) - 1 AS ordinal
        |FROM documents""".stripMargin,

    // Epoch-1 order: the same idHash stepped once by the epoch LCG
    // (16807·h + 3 mod M — full-period, deliberately neither the split's
    // 48271 nor the fraction's 69621). h < M so h·16807 ≪ 2⁶³.
    "q80b_shuffle_order_epoch1" ->
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY
        |    ((((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647)
        |      * 16807 + 3) % 2147483647,
        |    doc_id) - 1 AS ordinal
        |FROM documents""".stripMargin,

    // JL random projection: same deterministic ±1 sign formula, DECIMAL
    // accumulation (order-independent), unscaled 6-dp-exact output.
    "q75_random_projection" ->
      """SELECT vec_id, (j + 1)::INT dim,
        |  list_sum([ round(embedding[i+1]::DOUBLE * 1000000)::BIGINT
        |      * (1 - 2 * ((i + 13) * (j + 101) * 2654435761 % 2147483647 % 2))
        |    for i in range(0, len(embedding))])::DOUBLE / 1000000 val
        |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 16)) j) dims""".stripMargin,
  )
}
