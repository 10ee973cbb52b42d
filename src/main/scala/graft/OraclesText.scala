package graft

/** DuckDB oracles for the dedup / text-analysis / similarity / events
  * queries. Hash parity relies on `md5` producing identical lowercase hex
  * in both engines; fold parity relies on DuckDB `list_reduce` and Spark
  * `aggregate` sharing left-to-right association.
  */
object OraclesText {

  /** doc_id → distinct word-3-gram shingles (mirrors TextDedup.shingleIndex). */
  private val shingleCte =
    """tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      |       FROM tok WHERE len(toks) >= 3),
      |sidx AS (SELECT DISTINCT doc_id, shingle FROM sh)""".stripMargin

  private val minhashSigCte: String = {
    val mins = (0 until queries.TextDedup.MinhashK)
      .map(i => s"min(md5('$i:' || shingle)) AS mh$i").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sidx GROUP BY doc_id)"
  }

  /** `(strpos(...)-1)*16^k` polynomial turning k hex chars into an int. */
  private def hexToInt(h: String, k: Int): String =
    (0 until k).map { i =>
      val mult = math.pow(16, k - 1 - i).toLong
      s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")

  private def hex4ToInt(h: String): String = hexToInt(h, 4)

  /** The t9 content-hash split-bucket expression over a `text` column —
    * THE one spelling of the split rule (mirrors TextDedup.splitCols).
    */
  private val splitBucketSql: String =
    s"${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100"

  /** The 80/10/10 bucket→split CASE over an already-computed bucket
    * column — shared so the boundary constants exist once.
    */
  private def splitCaseSql(b: String): String =
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' " +
      s"ELSE 'test' END"

  /** Content-hash split CTE `sp(doc_id, split)` — shared by every oracle
    * that tags documents with their t9 split (the r14 ADVICE item: the
    * spelling must exist once, so a split-rule change can never drift
    * between the exact and winnow twins).
    */
  private val splitCte: String =
    s"""sp AS (SELECT doc_id, ${splitCaseSql("bucket")} AS split
       |  FROM (SELECT doc_id, $splitBucketSql AS bucket
       |    FROM documents))""".stripMargin

  /** Wide (36-bit / 9-hex) winnow fingerprint selections — the UNCAPPED
    * per-document half (mirrors TextDedup.winnowLocalSelect with
    * WinnowWideHex; selections are per-doc-local, so this frame is
    * identical whether computed over the full corpus or any subset).
    * Requires `tok` from [[shingleCte]]; yields wfp(doc_id, fp).
    */
  private val winnowSelCte: String = {
    val w = queries.TextDedup.WinnowW
    s"""wsh0 AS (SELECT doc_id, unnest(range(1, len(toks)-1)) AS pos, toks
       |  FROM tok WHERE len(toks) >= 3),
       |wsh AS (SELECT doc_id, pos,
       |    ${hexToInt("substr(md5(toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2]), 1, 9)", 9)} AS h
       |  FROM wsh0),
       |wenc AS (SELECT doc_id, pos,
       |    h * 16777216 + (16777215 - least(pos, 16777215)) AS ek FROM wsh),
       |wwin AS (SELECT doc_id,
       |    min(ek) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mk,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS cnt
       |  FROM wenc),
       |wfp AS (SELECT DISTINCT doc_id, mk // 16777216 AS fp
       |  FROM wwin WHERE cnt = $w)""".stripMargin
  }

  /** Capped postings + pairs over [[winnowSelCte]] — mirrors
    * TextDedup.winnowPairs (w = WinnowW, cap = WinnowSweepCap).
    * Requires `tok` from [[shingleCte]]; yields wfp(doc_id, fp),
    * wfpc(doc_id, fp) and wpairs(id_a, id_b).
    */
  private val winnowPairCte: String = {
    val cap = queries.TextDedup.WinnowSweepCap
    s"""$winnowSelCte,
       |wfpc AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM wfp) WHERE rk <= $cap),
       |wpn AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS ns
       |  FROM wfpc a JOIN wfpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |wpairs AS (SELECT id_a, id_b FROM wpn)""".stripMargin
  }

  /** Connected components over the ≥0.8 Jaccard pair graph (mirrors
    * TextDedup.componentLabels): yields comp(doc_id, component). Requires
    * `sidx` from [[shingleCte]] and a RECURSIVE WITH.
    */
  private val componentCte =
    """csizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
      |cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |           FROM sidx a JOIN sidx b
      |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |cnp AS (SELECT id_a, id_b
      |        FROM cpairs JOIN csizes sa ON id_a = sa.doc_id
      |                    JOIN csizes sb ON id_b = sb.doc_id
      |        WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
      |cedges AS (SELECT id_a AS src, id_b AS dst FROM cnp
      |           UNION SELECT id_b, id_a FROM cnp),
      |creach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT creach.id, cedges.dst
      |  FROM creach JOIN cedges ON creach.r = cedges.src),
      |comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
      |         FROM creach GROUP BY id)""".stripMargin

  val dedup: Map[String, String] = Map(
    // TextDedup.d23UnifiedDedup: text ≥0.8-Jaccard pairs + the m11
    // banded/capped image pair chain + s6's within-cell ≥0.3-cosine
    // pairs, unioned into one reachability closure (component = min
    // reachable id, the d8 contract).
    "d23_unified_dedup" ->
      s"""WITH RECURSIVE $shingleCte,
         |$unifiedCompCte,
         |usz AS (SELECT component, count(*) AS cluster_size
         |        FROM ucomp GROUP BY 1)
         |SELECT c.doc_id, c.component, usz.cluster_size,
         |  (c.doc_id = c.component) AS keep
         |FROM ucomp c JOIN usz USING (component)
         |ORDER BY c.doc_id""".stripMargin,

    // TextDedup.p20UnifiedSavings: the d23 closure rolled up to the
    // per-source token ledger — identical CTE chain, min-id keepers,
    // half-up micro savings fraction.
    "p20_unified_savings" ->
      s"""WITH RECURSIVE $shingleCte,
         |$unifiedCompCte,
         |tokc AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS BIGINT) AS n_toks
         |  FROM documents),
         |j AS (SELECT t.source, t.n_toks,
         |    (c.doc_id = c.component) AS keep
         |  FROM tokc t JOIN ucomp c USING (doc_id)),
         |agg AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN keep THEN n_toks ELSE 0 END) AS BIGINT)
         |      AS kept_tokens,
         |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS kept_docs
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, kept_docs, total_tokens, kept_tokens,
         |  CAST(((total_tokens - kept_tokens) * 1000000
         |      + total_tokens // 2) // total_tokens AS BIGINT) / 1e6
         |    AS savings_frac
         |FROM agg ORDER BY source""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_docs
        |FROM documents
        |GROUP BY 1 ORDER BY canonical_id LIMIT 1000""".stripMargin,

    "d2_minhash_signature" -> {
      val mh = (0 until queries.TextDedup.MinhashK).map(i => s"mh$i").mkString(", ")
      s"""WITH $shingleCte, $minhashSigCte
         |SELECT doc_id, $mh FROM sig ORDER BY doc_id LIMIT 500""".stripMargin
    },

    // TextDedup.d24BandSweep: the (b, r) dial table. The oracle bands at
    // DOC level (simpler; the Spark side's distinct-signature ×
    // group-size expansion emits the identical pair multiset) and
    // counts; precision is the half-up micro integral divide; the
    // theory column is the same build-time constant literal.
    "d24_band_sweep" -> {
      val k = queries.TextDedup.MinhashK
      def leg(b: Int, r: Int): String = {
        val bands = (0 until b).map { i =>
          val key = (0 until r).map(j => s"mh${i * r + j}")
            .mkString(" || '|' || ")
          s"SELECT doc_id, $i AS band, md5($key) AS bkey FROM sig"
        }.mkString("\n    UNION ALL ")
        val agree = (0 until k)
          .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
          .mkString("(", " + ", ")")
        val theory = BigDecimal(1.0 - math.pow(1.0 - math.pow(0.5, r), b))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        s"""SELECT $b AS n_bands, $r AS rows_per_band,
           |  CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(sum(CASE WHEN $agree >= 4 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_est_dups,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST((CAST(coalesce(sum(CASE WHEN $agree >= 4 THEN 1 ELSE 0 END), 0)
           |        AS HUGEINT) * 1000000 + count(*) // 2)
           |      // count(*) AS BIGINT) / 1e6 END AS precision,
           |  $theory AS p_at_threshold
           |FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |      FROM ($bands) a JOIN ($bands) b
           |        ON a.band = b.band AND a.bkey = b.bkey
           |          AND a.doc_id < b.doc_id) c
           |JOIN sig sa ON c.id_a = sa.doc_id
           |JOIN sig sb ON c.id_b = sb.doc_id""".stripMargin
      }
      s"""WITH $shingleCte, $minhashSigCte
         |SELECT * FROM (
         |${Seq((8, 1), (4, 2), (2, 4)).map { case (b, r) => s"(${leg(b, r)})" }
           .mkString("\n  UNION ALL\n")}
         |) ORDER BY n_bands DESC""".stripMargin
    },

    "d3_minhash_lsh" -> {
      val bands = (0 until queries.TextDedup.MinhashBands).map { b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      val agree = (0 until queries.TextDedup.MinhashK)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $shingleCte, $minhashSigCte,
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM banded a JOIN banded b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, $agree / 8.0 AS est_jaccard
         |FROM cand JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
         |WHERE $agree / 8.0 >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    },

    // TextDedup.d14LshRecall: exact d6 truth LEFT JOIN the d3 candidate
    // estimates — the dedup-path recall measurement (s8's analog).
    "d14_lsh_recall" -> {
      val bands = (0 until queries.TextDedup.MinhashBands).map { b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      val agree = (0 until queries.TextDedup.MinhashK)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $shingleCte, $minhashSigCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT id_a, id_b,
         |    round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |             JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM banded a JOIN banded b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT id_a, id_b, $agree / 8.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON id_a = sa.doc_id
         |            JOIN sig sb ON id_b = sb.doc_id)
         |SELECT t.id_a, t.id_b, t.jaccard,
         |  (e.est_jaccard IS NOT NULL) AS candidate, e.est_jaccard,
         |  coalesce(e.est_jaccard >= 0.5, false) AS hit
         |FROM truth t LEFT JOIN est e ON t.id_a = e.id_a AND t.id_b = e.id_b
         |ORDER BY t.id_a, t.id_b""".stripMargin
    },

    // TextDedup.d21MinhashCalibration: d14's mirror — every banded
    // candidate's estimate against the exact (unthresholded) Jaccard.
    "d21_minhash_calibration" -> {
      val bands = (0 until queries.TextDedup.MinhashBands).map { b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      val agree = (0 until queries.TextDedup.MinhashK)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $shingleCte, $minhashSigCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT id_a, id_b,
         |    round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |             JOIN sizes sb ON id_b = sb.doc_id),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM banded a JOIN banded b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT id_a, id_b, $agree / 8.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON id_a = sa.doc_id
         |            JOIN sig sb ON id_b = sb.doc_id)
         |SELECT e.id_a, e.id_b, e.est_jaccard,
         |  coalesce(t.jaccard, 0.0) AS jaccard,
         |  round(abs(e.est_jaccard - coalesce(t.jaccard, 0.0)), 6) AS abs_err
         |FROM est e LEFT JOIN truth t ON e.id_a = t.id_a AND e.id_b = t.id_b
         |ORDER BY e.id_a, e.id_b""".stripMargin
    },
  )

  private val simhashCte: String = {
    val votes = (0 until queries.TextDedup.SimhashBits)
      .map(b => s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val bits = (0 until queries.TextDedup.SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""tokens AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${hex4ToInt("substr(md5(tok), 1, 4)")} AS th FROM tokens),
       |votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  val simhash: Map[String, String] = Map(
    "d4_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id LIMIT 500""".stripMargin,

    "d5_simhash_neardup" ->
      s"""WITH $simhashCte,
         |banded AS (SELECT doc_id, simhash, unnest([0,1,2,3]) AS band FROM sim),
         |banded2 AS (SELECT doc_id, simhash, band, (simhash >> (4*band)) & 15 AS bval FROM banded),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                a.simhash AS sh_a, b.simhash AS sh_b
         |         FROM banded2 a JOIN banded2 b
         |           ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "d6_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // TextDedup.d16SourceOverlap: near-dup pairs rolled up by the
    // unordered source pair — the provenance mirror matrix; mean
    // Jaccard is the exact grid average of 6-decimal scores.
    // TextDedup.d26ThresholdSweep: the verdict dial — pair and
    // flagged-doc counts at Jaccard thresholds {0.8, 0.9, 0.95} over
    // the d6 exact pair table; flagged = distinct id_b (drop-the-later
    // convention); fraction by half-up micro division.
    "d26_threshold_sweep" -> {
      // CASE-filtered aggregates (not WHERE) so a threshold with zero
      // surviving pairs still emits its row, like Spark's global agg
      def leg(thr: String): String =
        s"""SELECT $thr AS threshold,
           |  CAST(sum(CASE WHEN jaccard >= $thr THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT CASE WHEN jaccard >= $thr THEN id_b END)
           |    AS BIGINT) AS n_flagged,
           |  CAST((CAST(count(DISTINCT CASE WHEN jaccard >= $thr THEN id_b END)
           |      AS HUGEINT) * 1000000
           |      + nd.n_docs // 2) // nd.n_docs AS BIGINT) / 1e6
           |    AS flagged_frac
           |FROM nd LEFT JOIN jp ON 1 = 1 GROUP BY nd.n_docs""".stripMargin
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |jp AS (SELECT id_a, id_b,
         |    round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |       JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT * FROM (
         |  (${leg("0.8")})
         |  UNION ALL (${leg("0.9")})
         |  UNION ALL (${leg("0.95")})
         |) ORDER BY threshold""".stripMargin
    },

    "d16_source_overlap" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |jp AS (SELECT id_a, id_b,
         |    round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |       JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |  greatest(sa.source, sb.source) AS source_b,
         |  count(*) AS n_pairs,
         |  ${Oracles.exactAvg("jaccard", 6, 6)} AS mean_jaccard
         |FROM jp JOIN src sa ON jp.id_a = sa.doc_id
         |     JOIN src sb ON jp.id_b = sb.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // TextDedup.d15SplitLeakage: the d6 near-dup pairs annotated with
    // both sides' t9 content-hash splits; `leaks` = the pair straddles
    // the train boundary (a val/test doc's near-twin sits in train).
    "d15_split_leakage" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |jp AS (SELECT id_a, id_b,
         |    round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |       JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |$splitCte
         |SELECT jp.id_a, jp.id_b, jp.jaccard,
         |  sa.split AS split_a, sb.split AS split_b,
         |  ((sa.split = 'train') != (sb.split = 'train')) AS leaks
         |FROM jp JOIN sp sa ON jp.id_a = sa.doc_id
         |     JOIN sp sb ON jp.id_b = sb.doc_id
         |ORDER BY jp.id_a, jp.id_b""".stripMargin,

    // TextDedup.d20DupPagerank: three damped PageRank iterations over
    // the near-dup pair graph, unrolled — every share and base term is
    // the identical half-up integral division in micro-units, so the
    // centrality ranking is replayed exactly.
    "d20_dup_pagerank" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |np AS (SELECT id_a, id_b
         |       FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |                  JOIN sizes sb ON id_b = sb.doc_id
         |       WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM np
         |          UNION ALL SELECT id_b, id_a FROM np),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n_nodes FROM deg),
         |p0 AS (SELECT id, deg, (1000000 + n_nodes // 2) // n_nodes AS pr
         |       FROM deg CROSS JOIN nn),
         |s1 AS (SELECT id, (pr + deg // 2) // deg AS share FROM p0),
         |i1 AS (SELECT e.dst AS id, sum(s.share) AS inflow
         |       FROM edges e JOIN s1 s ON e.src = s.id GROUP BY 1),
         |p1 AS (SELECT p0.id, p0.deg,
         |    (150000 + nn.n_nodes // 2) // nn.n_nodes
         |      + (coalesce(i1.inflow, 0) * 85 + 50) // 100 AS pr
         |  FROM p0 LEFT JOIN i1 ON p0.id = i1.id CROSS JOIN nn),
         |s2 AS (SELECT id, (pr + deg // 2) // deg AS share FROM p1),
         |i2 AS (SELECT e.dst AS id, sum(s.share) AS inflow
         |       FROM edges e JOIN s2 s ON e.src = s.id GROUP BY 1),
         |p2 AS (SELECT p1.id, p1.deg,
         |    (150000 + nn.n_nodes // 2) // nn.n_nodes
         |      + (coalesce(i2.inflow, 0) * 85 + 50) // 100 AS pr
         |  FROM p1 LEFT JOIN i2 ON p1.id = i2.id CROSS JOIN nn),
         |s3 AS (SELECT id, (pr + deg // 2) // deg AS share FROM p2),
         |i3 AS (SELECT e.dst AS id, sum(s.share) AS inflow
         |       FROM edges e JOIN s3 s ON e.src = s.id GROUP BY 1),
         |p3 AS (SELECT p2.id, p2.deg,
         |    (150000 + nn.n_nodes // 2) // nn.n_nodes
         |      + (coalesce(i3.inflow, 0) * 85 + 50) // 100 AS pr
         |  FROM p2 LEFT JOIN i3 ON p2.id = i3.id CROSS JOIN nn)
         |SELECT id AS doc_id, CAST(deg AS BIGINT) AS degree,
         |  CAST(pr AS BIGINT) AS pr_micro,
         |  round(CAST(pr AS DOUBLE) / 1e6, 6) AS pagerank
         |FROM p3 ORDER BY pr_micro DESC, doc_id LIMIT 50""".stripMargin,
  )

  val dedupCapped: Map[String, String] = Map(
    // TextDedup.d6bJaccardCapped: scale-aware stop-shingle df cut
    // (max(4, nDocs // 125) — mirrors stopShingleCap) plus the
    // hot-posting rank cap (row_number ≤ HotPostingCap within a
    // shingle, by doc_id — mirrors capHotPostings), Jaccard in the
    // filtered shingle space (sizes + intersections both capped).
    "d6b_jaccard_capped" ->
      s"""WITH $shingleCte,
         |capped AS (SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df,
         |      row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rk
         |    FROM sidx) t WHERE df <= (SELECT greatest(4, count(*)
         |      // ${graft.queries.TextDedup.StopShingleDenom})
         |    FROM documents)
         |    AND rk <= ${graft.queries.TextDedup.HotPostingCap}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM capped a JOIN capped b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
  )

  val dedupDecision: Map[String, String] = Map(
    "d7_dedup_decision" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT id_b AS doc_id
         |          FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |                     JOIN sizes sb ON id_b = sb.doc_id
         |          WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8)
         |SELECT d.doc_id, (drops.doc_id IS NULL) AS keep
         |FROM documents d LEFT JOIN drops ON d.doc_id = drops.doc_id
         |ORDER BY d.doc_id""".stripMargin,
  )

  val dedupComponents: Map[String, String] = Map(
    // TextDedup.d8DedupComponents: the oracle computes components by
    // transitive closure (recursive CTE) over the same Jaccard ≥ 0.8
    // pair graph; component = min reachable doc_id. The Spark side's
    // min-label propagation must converge to exactly this labeling.
    "d8_dedup_components" ->
      s"""WITH RECURSIVE $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |np AS (SELECT id_a, id_b
         |       FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |                  JOIN sizes sb ON id_b = sb.doc_id
         |       WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM np
         |          UNION SELECT id_b, id_a FROM np),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // TextDedup.d17CanonicalSelect: inside each component the longest
    // text (tie: smallest doc_id) is the keeper; every doc carries its
    // verdict.
    "d17_canonical_select" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |k AS (SELECT comp.doc_id, comp.component, d.n_chars,
         |    first_value(comp.doc_id) OVER (PARTITION BY comp.component
         |      ORDER BY d.n_chars DESC, comp.doc_id) AS keeper_id
         |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id)
         |SELECT doc_id, component, n_chars, keeper_id,
         |  (doc_id = keeper_id) AS keep
         |FROM k ORDER BY doc_id""".stripMargin,

    // TextDedup.d18SoftDedup: sampling weight 10^6 // cluster_size over
    // the d8 components — downweighting instead of dropping.
    "d18_soft_dedup" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |sz AS (SELECT component, count(*) AS cluster_size
         |       FROM comp GROUP BY 1)
         |SELECT comp.doc_id, comp.component,
         |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
         |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_micro
         |FROM comp JOIN sz ON comp.component = sz.component
         |ORDER BY comp.doc_id""".stripMargin,

    // TextDedup.d27ComponentHistogram: component-size distribution over
    // the d8 labels — n_components and corpus fraction per size bucket
    // (half-up micro).
    "d27_component_histogram" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |sz AS (SELECT component, count(*) AS cluster_size
         |       FROM comp GROUP BY 1),
         |tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_docs FROM sz)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs_in_bucket,
         |  CAST((cluster_size * count(*) * 1000000 + tot.n_docs // 2)
         |    // tot.n_docs AS BIGINT) / 1e6 AS doc_frac
         |FROM sz, tot GROUP BY cluster_size, tot.n_docs
         |ORDER BY cluster_size""".stripMargin,

    // TextDedup.p27DeletionPropagation: the takedown impact report —
    // named docs (doc_id ≡ 0 mod 97) expand through their d8
    // components to every surviving copy; per-source rollup with one
    // half-up micro token-loss division.
    "p27_deletion_propagation" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |dt AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS BIGINT) AS n_tokens
         |  FROM documents),
         |named AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
         |hitc AS (SELECT DISTINCT component FROM comp
         |         JOIN named ON comp.doc_id = named.doc_id),
         |exp AS (SELECT comp.doc_id FROM comp
         |        JOIN hitc ON comp.component = hitc.component),
         |a AS (SELECT dt.source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_named,
         |    CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_expanded,
         |    CAST(sum(dt.n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN dt.n_tokens
         |      ELSE 0 END) AS BIGINT) AS tokens_lost
         |  FROM dt LEFT JOIN named n ON dt.doc_id = n.doc_id
         |    LEFT JOIN exp e ON dt.doc_id = e.doc_id
         |  GROUP BY 1)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_named,
         |  n_expanded, tokens_lost,
         |  CAST((tokens_lost * 1000000 + n_tokens // 2) // n_tokens
         |    AS BIGINT) / 1e6 AS token_loss_frac
         |FROM a ORDER BY source""".stripMargin,

    // TextDedup.p13DedupSavings: per-source doc/token counts before vs
    // after keeping only d17 canonicals; one double division per source.
    "p13_dedup_savings" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |tokc AS (SELECT doc_id, source, n_chars,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |k AS (SELECT comp.doc_id, t.source, t.n_tokens,
         |    (comp.doc_id = first_value(comp.doc_id) OVER (
         |       PARTITION BY comp.component
         |       ORDER BY t.n_chars DESC, comp.doc_id)) AS keep
         |  FROM comp JOIN tokc t ON comp.doc_id = t.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS n_tokens_kept,
         |  round(1.0 - CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS DOUBLE)
         |    / sum(n_tokens), 6) AS savings_frac
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
  )

  val containment: Map[String, String] = Map(
    // TextDedup.d9Containment: shared shingles / contained doc's shingle
    // count, both directions of each candidate pair, threshold 0.9.
    "d9_containment" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |            count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id != b.doc_id
         |          GROUP BY 1, 2)
         |SELECT contained_id, container_id,
         |  round(CAST(shared AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON contained_id = sa.doc_id
         |WHERE round(CAST(shared AS DOUBLE) / sa.n, 6) >= 0.9
         |ORDER BY contained_id, container_id LIMIT 3000""".stripMargin,

    // TextDedup.d9bContainmentCapped: scale-aware df cut (max(4,
    // nDocs // 125) — mirrors stopShingleCap) plus the hot-posting
    // rank cap (row_number ≤ HotPostingCap within a shingle, by
    // doc_id — mirrors capHotPostings), containment computed entirely
    // in the filtered shingle space (sizes AND intersections).
    "d9b_containment_capped" ->
      s"""WITH $shingleCte,
         |capped AS (SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df,
         |      row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rk
         |    FROM sidx) t WHERE df <= (SELECT greatest(4, count(*)
         |      // ${graft.queries.TextDedup.StopShingleDenom})
         |    FROM documents)
         |    AND rk <= ${graft.queries.TextDedup.HotPostingCap}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |            count(*) AS shared
         |          FROM capped a JOIN capped b
         |            ON a.shingle = b.shingle AND a.doc_id != b.doc_id
         |          GROUP BY 1, 2)
         |SELECT contained_id, container_id,
         |  round(CAST(shared AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON contained_id = sa.doc_id
         |WHERE round(CAST(shared AS DOUBLE) / sa.n, 6) >= 0.9
         |ORDER BY contained_id, container_id LIMIT 3000""".stripMargin,

    // TextDedup.d11ChunkDedup: non-overlapping 32-token chunks; a chunk
    // is duplicated when its hash appears in ≥2 distinct docs; keep =
    // at most half a doc's chunks duplicated (integer compare).
    "d11_chunk_dedup" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |chunks AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1,
        |      least(start + 32, len(toks))), ' ')) AS chash
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start
        |        FROM tok)),
        |dup AS (SELECT chash FROM (
        |    SELECT chash, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
        |  WHERE nd >= 2)
        |SELECT c.doc_id,
        |  count(*) AS n_chunks,
        |  count(dup.chash) AS n_dup_chunks,
        |  round(CAST(count(dup.chash) AS DOUBLE) / count(*), 6) AS dup_frac,
        |  (count(dup.chash) * 2 <= count(*)) AS keep
        |FROM chunks c LEFT JOIN dup ON c.chash = dup.chash
        |GROUP BY c.doc_id ORDER BY c.doc_id LIMIT 2000""".stripMargin,

    // TextDedup.d22ExactSubstr: stride-1 16-token windows; a window is
    // duplicated when its hash occurs in ≥2 distinct docs; the longest
    // consecutive duplicated run (start − row_number grouping) recovers
    // the longest verbatim shared span (run + 15 tokens).
    "d22_exact_substr" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |wins AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
        |    md5(array_to_string(list_slice(toks, start + 1,
        |      least(start + 16, len(toks))), ' ')) AS whash
        |  FROM (SELECT doc_id, toks,
        |      unnest(range(0, greatest(len(toks) - 15, 1))) AS start
        |    FROM tok)),
        |dup AS (SELECT whash FROM (
        |    SELECT whash, count(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
        |  WHERE nd >= 2),
        |fl AS (SELECT w.doc_id, w.start, (d.whash IS NOT NULL) AS dup
        |  FROM wins w LEFT JOIN dup d ON w.whash = d.whash),
        |per AS (SELECT doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_windows
        |  FROM fl GROUP BY 1),
        |runs AS (SELECT doc_id, max(run) AS max_run FROM (
        |    SELECT doc_id, grp, count(*) AS run FROM (
        |      SELECT doc_id, start - row_number()
        |          OVER (PARTITION BY doc_id ORDER BY start) AS grp
        |      FROM fl WHERE dup) GROUP BY 1, 2) GROUP BY 1)
        |SELECT p.doc_id, p.n_windows, p.n_dup_windows,
        |  round(CAST(p.n_dup_windows AS DOUBLE) / p.n_windows, 6) AS dup_frac,
        |  CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_run,
        |  CAST(CASE WHEN coalesce(r.max_run, 0) > 0
        |    THEN coalesce(r.max_run, 0) + 15 ELSE 0 END AS BIGINT)
        |    AS dup_span_tokens
        |FROM per p LEFT JOIN runs r ON p.doc_id = r.doc_id
        |ORDER BY p.doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p19DupMask: per source, tokens inside any cross-doc
    // duplicated window — interval union via the running-max sweep
    // (new coverage = max(0, e − max(prevMaxE, start−1))).
    "p19_dup_mask" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM tok),
        |wins AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
        |    md5(array_to_string(list_slice(toks, start + 1,
        |      least(start + 16, len(toks))), ' ')) AS whash
        |  FROM (SELECT doc_id, toks,
        |      unnest(range(0, greatest(len(toks) - 15, 1))) AS start
        |    FROM tok)),
        |dup AS (SELECT whash FROM (
        |    SELECT whash, count(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
        |  WHERE nd >= 2),
        |dw AS (SELECT w.doc_id, w.start,
        |    least(w.start + 15, s.n_tok - 1) AS e
        |  FROM wins w JOIN sizes s ON w.doc_id = s.doc_id
        |  WHERE w.whash IN (SELECT whash FROM dup)),
        |cov AS (SELECT doc_id, greatest(e - greatest(coalesce(
        |      max(e) OVER (PARTITION BY doc_id ORDER BY start
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
        |      start - 1), 0) AS nc
        |  FROM dw),
        |md AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS masked
        |  FROM cov GROUP BY 1)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(s.n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(coalesce(md.masked, 0)) AS BIGINT) AS masked_tokens,
        |  round(CAST(sum(coalesce(md.masked, 0)) AS DOUBLE)
        |    / sum(s.n_tok), 6) AS mask_frac
        |FROM documents d JOIN sizes s ON d.doc_id = s.doc_id
        |     LEFT JOIN md ON d.doc_id = md.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // TextDedup.t23TfidfKeywords: per-doc top-3 terms by tf·idf with
    // idf snapped to integer micro-units (round(ln(N/df)·1e6)) so the
    // score and the ranking are integer-exact; token-asc tie-break.
    "t23_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |tfc AS (SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS token FROM tok) GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT t.doc_id, t.token, t.tf, d.df,
        |    t.tf * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1000000)
        |      AS BIGINT) AS score_micro
        |  FROM tfc t, dfc d, n WHERE t.token = d.token),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, token) AS rk FROM sc)
        |SELECT doc_id, rk, token, tf, df, score_micro FROM rk
        |WHERE rk <= 3 ORDER BY doc_id, rk LIMIT 2000""".stripMargin,

    // TextDedup.t18IntradocRep: repeated 32-token chunks WITHIN one
    // document — same chunk grid as d11, but counts stay per-doc.
    "t18_intradoc_rep" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |ch AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start + 1,
        |      least(start + 32, len(toks))), ' ')) AS chash
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start
        |        FROM tok)),
        |pc AS (SELECT doc_id, chash, count(*) AS cnt FROM ch GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  count(*) AS n_distinct_chunks,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_rep_chunks,
        |  round(CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / sum(cnt), 6) AS rep_frac
        |FROM pc GROUP BY doc_id ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.d12TrainOverlap: per-eval-doc fraction of 3-gram
    // shingles present anywhere in the train split's vocabulary.
    "d12_train_overlap" ->
      s"""WITH $shingleCte,
         |$splitCte,
         |tv AS (SELECT DISTINCT shingle FROM sidx JOIN sp USING (doc_id)
         |       WHERE split = 'train'),
         |ev AS (SELECT s.doc_id, sp.split, s.shingle
         |       FROM sidx s JOIN sp ON s.doc_id = sp.doc_id
         |       WHERE sp.split IN ('val', 'test'))
         |SELECT ev.doc_id, ev.split,
         |  count(*) AS n_shingles,
         |  count(tv.shingle) AS n_in_train,
         |  round(CAST(count(tv.shingle) AS DOUBLE) / count(*), 6) AS overlap
         |FROM ev LEFT JOIN tv ON ev.shingle = tv.shingle
         |GROUP BY ev.doc_id, ev.split ORDER BY ev.doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t13TopBigramFrac: share of all bigrams taken by the
    // single most frequent one (Gopher's degenerate-loop rule).
    "t13_top_bigram_frac" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |      FROM x WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bigram, count(*) AS m FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  CAST(max(m) AS BIGINT) AS top_count,
        |  round(CAST(max(m) AS DOUBLE) / sum(m), 6) AS top_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t11RepetitionRatio: duplicate-bigram fraction per doc.
    "t11_repetition_ratio" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) AS bigrams
        |      FROM x WHERE len(toks) >= 2)
        |SELECT doc_id, CAST(len(bigrams) AS INT) AS n_bigrams,
        |  CAST(len(list_distinct(bigrams)) AS INT) AS n_uniq_bigrams,
        |  round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 6)
        |    AS dup_frac
        |FROM b ORDER BY doc_id LIMIT 2000""".stripMargin,
  )

  val decontamination: Map[String, String] = Map(
    // TextDedup.d10Decontamination: d6's Jaccard pairs emitted both
    // ways, gated on t9's split buckets — eval side val/test, source
    // side train.
    "d10_decontamination" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |jac AS (SELECT id_a, id_b,
         |          round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
         |        FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |                   JOIN sizes sb ON id_b = sb.doc_id
         |        WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |sym AS (SELECT id_a AS eval_id, id_b AS train_id, jaccard FROM jac
         |        UNION ALL SELECT id_b, id_a, jaccard FROM jac),
         |$splitCte
         |SELECT eval_id, se.split AS eval_split, train_id, jaccard
         |FROM sym JOIN sp se ON eval_id = se.doc_id
         |         JOIN sp st ON train_id = st.doc_id
         |WHERE se.split IN ('val', 'test') AND st.split = 'train'
         |ORDER BY eval_id, train_id""".stripMargin,
  )

  val pipeline: Map[String, String] = Map(
    // TextDedup.q25ContaminationSpread: bounded-hop spread from the
    // test split over the d6 near-dup graph — the SAME WITH RECURSIVE
    // text Spark executes natively.
    "q25_contamination_spread" ->
      s"""WITH RECURSIVE $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |       FROM sidx a JOIN sidx b
         |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |jac AS (SELECT id_a, id_b FROM pr
         |        JOIN sizes sa ON id_a = sa.doc_id
         |        JOIN sizes sb ON id_b = sb.doc_id
         |        WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jac
         |          UNION ALL SELECT id_b, id_a FROM jac),
         |seeds AS (SELECT doc_id FROM (SELECT doc_id,
         |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
         |  FROM documents) WHERE bucket >= 90),
         |spread(doc_id, depth) AS (
         |  SELECT doc_id, 0 FROM seeds
         |  UNION ALL
         |  SELECT e.dst, s.depth + 1
         |  FROM spread s JOIN edges e ON s.doc_id = e.src
         |  WHERE s.depth < 3)
         |SELECT doc_id, CAST(min(depth) AS BIGINT) AS hops
         |FROM spread GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // TextDedup.p1CorpusManifest: the end-to-end corpus construction —
    // d7's drop set + t4's quality formula + t9's split buckets and the
    // final selection predicate, composed exactly as the Spark plan
    // composes them.
    "p1_corpus_manifest" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |          FROM sidx a JOIN sidx b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT id_b AS doc_id
         |          FROM pairs JOIN sizes sa ON id_a = sa.doc_id
         |                     JOIN sizes sb ON id_b = sb.doc_id
         |          WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8),
         |x AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
         |  FROM documents),
         |r AS (SELECT doc_id, bucket,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
         |  FROM x),
         |q AS (SELECT doc_id,
         |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |         ELSE 'test' END AS split,
         |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
         |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
         |  FROM r)
         |SELECT q.doc_id, split, quality,
         |  (drops.doc_id IS NOT NULL) AS is_dup,
         |  (drops.doc_id IS NULL AND quality >= 0.57) AS selected
         |FROM q LEFT JOIN drops ON q.doc_id = drops.doc_id
         |ORDER BY q.doc_id""".stripMargin,

    // TextDedup.p2CorpusMixing: per-language sampling rates over a
    // salted content-hash bucket ("mix:" decorrelates from t9's split).
    "p2_corpus_mixing" ->
      s"""WITH x AS (SELECT doc_id, lang,
         |    ${hex4ToInt("substr(md5('mix:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
         |  bucket < (CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 900
         |            WHEN 'zh' THEN 1000 WHEN 'de' THEN 800 WHEN 'fr' THEN 800
         |            ELSE 700 END) AS keep
         |FROM x ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p12EpochMix: equal slices of a 40% token budget, ceil
    // epochs capped at 4, effective = min(budget, supply·epochs).
    "p12_epoch_mix" ->
      """WITH d AS (SELECT source,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS nt
        |  FROM documents),
        |s AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    count(*) AS n_sources FROM s),
        |x AS (SELECT source, n_docs, n_tokens,
        |    total_tokens * 2 // 5 // n_sources AS budget_tokens FROM s, t),
        |y AS (SELECT *, least((budget_tokens + n_tokens - 1) // n_tokens,
        |    4) AS epochs FROM x)
        |SELECT source, n_docs, n_tokens, budget_tokens,
        |  CAST(epochs AS BIGINT) AS epochs,
        |  least(budget_tokens, n_tokens * epochs) AS effective_tokens,
        |  round(CAST(least(budget_tokens, n_tokens * epochs) AS DOUBLE)
        |    / budget_tokens, 6) AS fill_frac
        |FROM y ORDER BY source""".stripMargin,

    // TextDedup.p5LangRebalance: cap any language at 20% of the corpus;
    // integer keep rule (bucket·5·n_lang < 1000·n_total) so the decision
    // can't drift across engines on a double-rate boundary.
    "p5_lang_rebalance" ->
      s"""WITH x AS (SELECT doc_id, lang,
         |    ${hex4ToInt("substr(md5('bal:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 1000 AS bucket
         |  FROM documents),
         |c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM documents)
         |SELECT x.doc_id, x.lang, CAST(x.bucket AS BIGINT) AS bucket,
         |  c.n_lang,
         |  (x.bucket * 5 * c.n_lang < 1000 * t.n_total) AS keep
         |FROM x JOIN c ON x.lang = c.lang CROSS JOIN tot t
         |ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p7TempRebalance: α=0.5 temperature resampling — keep
    // rate √(n_min/n_l) per mille; sqrt is IEEE-correctly-rounded on
    // both engines so the rate needs no micro-snap, and the keep is
    // integer bucket < rate.
    "p7_temp_rebalance" ->
      s"""WITH x AS (SELECT doc_id, lang,
         |    ${hex4ToInt("substr(md5('tmp:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 1000 AS bucket
         |  FROM documents),
         |c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |m AS (SELECT min(n_lang) AS n_min FROM c),
         |r AS (SELECT x.doc_id, x.lang, CAST(x.bucket AS BIGINT) AS bucket,
         |    c.n_lang,
         |    CAST(round(sqrt(CAST(m.n_min AS DOUBLE) / c.n_lang) * 1000)
         |      AS BIGINT) AS rate_pm
         |  FROM x JOIN c ON x.lang = c.lang CROSS JOIN m)
         |SELECT doc_id, lang, bucket, n_lang, rate_pm,
         |  (bucket < rate_pm) AS keep
         |FROM r ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p25TempSweep: p7's rebalancing with the temperature dial
    // swept at λ ∈ {¼, ½, 1} — exponents chosen so every leg is x,
    // sqrt(x) or sqrt(sqrt(x)) (IEEE-exact cross-engine, no libm pow);
    // one scan, all three verdicts map-side.
    "p25_temp_sweep" ->
      s"""WITH x AS (SELECT lang,
         |    ${hex4ToInt("substr(md5('tmp:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 1000 AS bucket
         |  FROM documents),
         |c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |m AS (SELECT min(n_lang) AS n_min FROM c),
         |r AS (SELECT x.lang, CAST(x.bucket AS BIGINT) AS bucket, c.n_lang,
         |    CAST(round(sqrt(sqrt(CAST(m.n_min AS DOUBLE) / c.n_lang)) * 1000)
         |      AS BIGINT) AS r25,
         |    CAST(round(sqrt(CAST(m.n_min AS DOUBLE) / c.n_lang) * 1000)
         |      AS BIGINT) AS r50,
         |    CAST(round(CAST(m.n_min AS DOUBLE) / c.n_lang * 1000)
         |      AS BIGINT) AS r100
         |  FROM x JOIN c ON x.lang = c.lang CROSS JOIN m)
         |SELECT lang, CAST(max(n_lang) AS BIGINT) AS n_lang,
         |  max(r25) AS rate_pm_25,
         |  CAST(sum(CASE WHEN bucket < r25 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept_25,
         |  max(r50) AS rate_pm_50,
         |  CAST(sum(CASE WHEN bucket < r50 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept_50,
         |  max(r100) AS rate_pm_100,
         |  CAST(sum(CASE WHEN bucket < r100 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept_100
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // TextDedup.p8CurriculumBins: exact global quality rank → integer
    // decile (rank₀·10 div n_total — never a double percentile).
    "p8_curriculum_bins" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r0 AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x),
        |q AS (SELECT doc_id,
        |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |  FROM r0),
        |r AS (SELECT doc_id, quality,
        |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk FROM q),
        |t AS (SELECT count(*) AS n_total FROM q)
        |SELECT doc_id, quality, CAST(rnk AS BIGINT) AS rank,
        |  CAST((rnk - 1) * 10 // n_total AS BIGINT) AS decile
        |FROM r, t ORDER BY rank LIMIT 2000""".stripMargin,

    // TextDedup.p11AnnealMix: linear keep-rate schedule over the p8
    // deciles (1000 − 100·decile per mille), decided by the integer
    // bucket rule on an "ann:"-salted content hash.
    "p11_anneal_mix" ->
      s"""WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
        |    ${hex4ToInt("substr(md5('ann:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 1000 AS bucket
        |  FROM documents),
        |r0 AS (SELECT doc_id, bucket,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x),
        |q AS (SELECT doc_id, bucket,
        |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |  FROM r0),
        |r AS (SELECT doc_id, bucket, quality,
        |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk FROM q),
        |t AS (SELECT count(*) AS n_total FROM q),
        |d AS (SELECT doc_id, bucket, quality,
        |    CAST((rnk - 1) * 10 // n_total AS BIGINT) AS decile
        |  FROM r, t)
        |SELECT doc_id, quality, decile,
        |  1000 - decile * 100 AS rate_pm,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  (bucket < 1000 - decile * 100) AS keep
        |FROM d ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p3TokenBudget: quality-descending cumulative token sum,
    // docs whose preceding total is under the budget. The window sum is
    // CAST to BIGINT (DuckDB promotes integer window sums to HUGEINT —
    // the q12 dtype class).
    "p3_token_budget" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x),
        |q AS (SELECT doc_id, n_tokens,
        |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |  FROM r),
        |c AS (SELECT doc_id, quality, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM q)
        |SELECT doc_id, quality, n_tokens, cum_before FROM c
        |WHERE cum_before < 10000
        |ORDER BY quality DESC, doc_id""".stripMargin,

    // TextDedup.t21VocabCoverage: exact frequency rank + cumulative
    // token mass, coverage at each budget checkpoint by half-up micro
    // division; checkpoint rank clamps at the vocabulary size.
    "t21_vocab_coverage" ->
      """WITH x AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS tok FROM documents),
        |tc AS (SELECT tok, count(*) AS cnt FROM x GROUP BY 1),
        |r AS (SELECT tok, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_incl
        |  FROM tc),
        |t AS (SELECT count(*) AS vocab_size,
        |    CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tc),
        |v(v_budget) AS (VALUES (100), (500), (1000), (2000), (5000))
        |SELECT CAST(v_budget AS BIGINT) AS v_budget, vocab_size,
        |  total_tokens, cum_incl AS covered_tokens,
        |  round(CAST((cum_incl * 1000000 + total_tokens // 2)
        |    // total_tokens AS DOUBLE) / 1e6, 6) AS coverage
        |FROM v, t JOIN r ON r.rank = least(v_budget, vocab_size)
        |ORDER BY v_budget""".stripMargin,

    // TextDedup.p16QuotaAfterDedup: d17's keepers (recursive-CTE
    // components + longest-text keeper) restricted BEFORE the p15 quota.
    "p16_quota_after_dedup" ->
      s"""WITH RECURSIVE $shingleCte,
         |$componentCte,
         |kk AS (SELECT comp.doc_id,
         |    first_value(comp.doc_id) OVER (PARTITION BY comp.component
         |      ORDER BY d.n_chars DESC, comp.doc_id) AS keeper_id
         |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id),
         |keepers AS (SELECT doc_id FROM kk WHERE doc_id = keeper_id),
         |x AS (SELECT doc_id, source,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)),
         |r AS (SELECT doc_id, source,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
         |  FROM x),
         |q AS (SELECT doc_id, source, n_tokens,
         |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
         |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
         |  FROM r),
         |c AS (SELECT source, doc_id, quality, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM q)
         |SELECT source, doc_id, quality, n_tokens, cum_before FROM c
         |WHERE cum_before < 500
         |ORDER BY source, quality DESC, doc_id""".stripMargin,

    // TextDedup.p15SourceQuota: p3's selection per source — the window
    // partitions on source, each source admits its own best 500 tokens
    // (straddler kept).
    "p15_source_quota" ->
      """WITH x AS (SELECT doc_id, source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x),
        |q AS (SELECT doc_id, source, n_tokens,
        |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |  FROM r),
        |c AS (SELECT source, doc_id, quality, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM q)
        |SELECT source, doc_id, quality, n_tokens, cum_before FROM c
        |WHERE cum_before < 500
        |ORDER BY source, quality DESC, doc_id""".stripMargin,
  )

  val text: Map[String, String] = Map(
    // TextDedup.t9SplitAssign: content-hash 80/10/10 split — first 16
    // bits of md5(normalized text) mod 100, identical polynomial hex
    // decode on both engines.
    "t9_split_assign" ->
      s"""WITH x AS (SELECT doc_id,
        |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM x ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t10SequencePacking: greedy per-shard packing into
    // 512-token budgets. The window sum is CAST to BIGINT before the
    // integral divide (DuckDB promotes integer window sums to HUGEINT —
    // the q12 dtype class).
    "t10_sequence_packing" ->
      s"""WITH x AS (SELECT doc_id, doc_id % 32 AS shard,
        |    len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM x)
        |SELECT shard, cum_before // 512 AS pack_id, doc_id,
        |  CAST(n_tokens AS INT) AS n_tokens
        |FROM c ORDER BY shard, pack_id, doc_id LIMIT 3000""".stripMargin,

    "t1_token_stats" ->
      """WITH x AS (SELECT doc_id, lang,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
        |  round(CAST(length(norm) - (len(toks) - 1) AS DOUBLE) / len(toks), 6) AS avg_tok_len,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr
        |FROM x ORDER BY doc_id LIMIT 2000""".stripMargin,

    "t2_regex_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num,
        |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INT) AS n_sym
        |FROM documents ORDER BY doc_id LIMIT 2000""".stripMargin,

    "t3_lang_id" ->
      """WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |v AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS INT) AS v_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS INT) AS v_de,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de','y','es'], t))) AS INT) AS v_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['le','la','de','et','est'], t))) AS INT) AS v_fr
        |  FROM x)
        |SELECT doc_id, lang, v_en, v_de, v_es, v_fr,
        |  CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr THEN 'en'
        |       WHEN v_de >= v_es AND v_de >= v_fr THEN 'de'
        |       WHEN v_es >= v_fr THEN 'es'
        |       ELSE 'fr' END AS predicted
        |FROM v ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t15LabelAudit: per declared lang, t3-prediction
    // disagreement counts — the exact t3 vote pipeline rolled up.
    "t15_label_audit" ->
      """WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |v AS (SELECT doc_id, lang,
        |  len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS v_en,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS v_de,
        |  len(list_filter(toks, t -> list_contains(['el','la','de','y','es'], t))) AS v_es,
        |  len(list_filter(toks, t -> list_contains(['le','la','de','et','est'], t))) AS v_fr
        |  FROM x),
        |p AS (SELECT lang,
        |  CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr THEN 'en'
        |       WHEN v_de >= v_es AND v_de >= v_fr THEN 'de'
        |       WHEN v_es >= v_fr THEN 'es'
        |       ELSE 'fr' END AS predicted
        |  FROM v)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN predicted != lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  round(CAST(sum(CASE WHEN predicted != lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS mismatch_rate
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "t4_quality_score" ->
      """WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id, lang,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |  CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x)
        |SELECT doc_id, lang, n_tokens,
        |  round(stop_ratio, 6) AS stop_ratio,
        |  round(ttr, 6) AS ttr,
        |  round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |    + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |FROM r ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t8Chunking — 64-token chunks at stride 48; DuckDB
    // list_slice's inclusive end bound ≡ Spark slice's length bound.
    "t8_chunking" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |starts AS (SELECT doc_id, toks,
        |    unnest(range(0, len(toks), 48)) AS start FROM tok)
        |SELECT doc_id, CAST(start // 48 AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, start + 1,
        |    least(start + 64, len(toks))), ' ') AS chunk_text,
        |  CAST(least(start + 64, len(toks)) - start AS INT) AS n_tokens
        |FROM starts ORDER BY doc_id, chunk_idx LIMIT 3000""".stripMargin,

    // TextDedup.t19VocabStats: per-language vocabulary statistics over
    // the (lang, token) count table — hapax fraction + tokens-per-type.
    "t19_vocab_stats" ->
      """WITH tk AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, count(*) AS cnt FROM tk GROUP BY 1, 2)
        |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab_size,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS hapax_frac,
        |  round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS tokens_per_type
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "t6_word_count" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // TextDedup.t22HeavyHitters: below sketch capacity (vocab ≪ 4096)
    // the frequent-items sketch never evicts, so est_n IS the exact
    // count — the oracle pins the estimates to truth, not a band.
    "t22_heavy_hitters" ->
      """WITH tokc AS (SELECT token, count(*) AS exact_n FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t GROUP BY token)
        |SELECT token, exact_n, exact_n AS est_n, TRUE AS sketch_ok
        |FROM tokc ORDER BY exact_n DESC, token LIMIT 10""".stripMargin,

    // TextDedup.t20EncodingSanity: identical doc_id-derived noise
    // injection (chr(7) control, chr(65533) replacements, BMP
    // non-ASCII), identical class regexes, t12-style snapped-ln entropy.
    "t20_encoding_sanity" ->
      """WITH noisy AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' café 漢字' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(7) || ' bell' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(65533) || chr(65533)
        |       ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |    CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |      AS BIGINT) AS n_digit,
        |    CAST(length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g'))
        |      AS BIGINT) AS n_ws,
        |    CAST(length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '', 'g'))
        |      AS BIGINT) AS n_non_ascii,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
        |      AS n_control,
        |    CAST(length(t) - length(regexp_replace(t, '\x{FFFD}', '', 'g'))
        |      AS BIGINT) AS n_replacement
        |  FROM noisy),
        |c2 AS (SELECT *,
        |    n_chars - n_alpha - n_digit - n_ws - n_non_ascii AS n_other_ascii
        |  FROM c),
        |e AS (SELECT *,
        |    CASE WHEN n_chars > 0 THEN
        |      CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
        |      ELSE 0 END
        |    - (n_alpha * (CASE WHEN n_alpha > 0 THEN CAST(round(ln(
        |        CAST(n_alpha AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END)
        |      + n_digit * (CASE WHEN n_digit > 0 THEN CAST(round(ln(
        |        CAST(n_digit AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END)
        |      + n_ws * (CASE WHEN n_ws > 0 THEN CAST(round(ln(
        |        CAST(n_ws AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END)
        |      + n_other_ascii * (CASE WHEN n_other_ascii > 0 THEN
        |        CAST(round(ln(CAST(n_other_ascii AS DOUBLE)) * 1e6)
        |        AS BIGINT) ELSE 0 END)
        |      + n_non_ascii * (CASE WHEN n_non_ascii > 0 THEN
        |        CAST(round(ln(CAST(n_non_ascii AS DOUBLE)) * 1e6)
        |        AS BIGINT) ELSE 0 END)
        |      + n_chars // 2) // n_chars AS entropy_micro
        |  FROM c2)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_ws, n_other_ascii,
        |  n_non_ascii, n_control, n_replacement,
        |  round(CAST(entropy_micro AS DOUBLE) / 1e6, 6) AS class_entropy,
        |  (n_control = 0 AND n_replacement = 0
        |   AND n_non_ascii * 10 <= n_chars * 3) AS encoding_ok
        |FROM e ORDER BY doc_id LIMIT 2000""".stripMargin,

    "t5_fingerprint" ->
      s"""WITH $shingleCte
         |SELECT doc_id, min(md5(shingle)) AS fingerprint, count(*) AS n_shingles
         |FROM sidx GROUP BY doc_id ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextHash.rollingHash twin: identical BIGINT recurrence
    // h = (h*31 + codepoint) % (2^31-1) folded left over the normalized
    // text (prepended 0 = the h0 = 0 seed; list_reduce has no init arg).
    "t7_rolling_fingerprint" ->
      """WITH x AS (SELECT doc_id,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(norm) + 1),
        |        i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS rhash,
        |  CAST(length(norm) AS INT) AS n_chars
        |FROM x ORDER BY doc_id LIMIT 2000""".stripMargin,
  )

  /** Sequential-fold dot product matching Spark's aggregate(zip_with(...)). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (s, x) -> s + x)"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Hyperplane sign-bit SQL with the same md5-derived literal weights as
    * Embeddings.s3LshAnn (weights baked at build time on both sides).
    */
  private def planeSignSql(p: Int, emb: String): String = {
    val terms = (0 until 64).map { j =>
      val w = Integer.parseInt(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$j".getBytes("UTF-8"))
          .take(1).map("%02x".format(_)).mkString.take(1), 16) - 7.5
      "CAST(%s[%d] AS DOUBLE) * (%s)".format(emb, j + 1,
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(w)))
    }.mkString(" + ")
    s"CASE WHEN $terms > 0 THEN 1 ELSE 0 END"
  }

  val xent: Map[String, String] = Map(
    // TextDedup.t24ZipfSlope: identical top-500-per-lang rank (plain
    // row_number here — DuckDB has no single-partition hazard at oracle
    // scale; Spark's saltedTopK emits the same rows), identical
    // micro-nat ln snap, HUGEINT OLS moments, and the same closed-form
    // half-up integral divisions for slope and intercept.
    "t24_zipf_slope" ->
      """WITH fr AS (SELECT lang, token, count(*) AS freq FROM (
        |    SELECT lang,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t GROUP BY 1, 2),
        |rk AS (SELECT lang, token, freq,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY freq DESC, token) AS rank
        |  FROM fr),
        |xy AS (SELECT lang,
        |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM rk WHERE rank <= 500),
        |m AS (SELECT lang, count(*) AS n_fit,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT lang, n_fit,
        |  CAST(((n_fit * sxy - sx * sy) * 1000000
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS slope,
        |  CAST((sxx * sy - sx * sxy
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS ln_intercept
        |FROM m ORDER BY lang""".stripMargin,

    // TextDedup.t25SourceDivergence: KL(source ‖ corpus) via the same
    // micro-nat snap per distinct count, HUGEINT accumulation, and the
    // KL·N_s = Σ c_st·(ln c_st − ln c_ct) + N_s·(ln N_c − ln N_s)
    // algebra with one half-up division.
    "t25_source_divergence" ->
      """WITH tf AS (SELECT source, token, count(*) AS cst FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(sum(cst) AS BIGINT) AS cct
        |  FROM tf GROUP BY 1),
        |nsrc AS (SELECT source, CAST(sum(cst) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab
        |  FROM tf GROUP BY 1),
        |ncte AS (SELECT CAST(sum(cct) AS BIGINT) AS nc FROM corpus),
        |parts AS (SELECT tf.source,
        |    CAST(sum(CAST(tf.cst AS HUGEINT)
        |      * (CAST(round(ln(CAST(tf.cst AS DOUBLE)) * 1e6) AS BIGINT)
        |        - CAST(round(ln(CAST(c.cct AS DOUBLE)) * 1e6) AS BIGINT)))
        |      AS HUGEINT) AS part
        |  FROM tf JOIN corpus c USING (token) GROUP BY 1)
        |SELECT n.source, n.n_tokens, n.vocab,
        |  CAST((p.part + CAST(n.n_tokens AS HUGEINT)
        |      * (CAST(round(ln(CAST(ncte.nc AS DOUBLE)) * 1e6) AS BIGINT)
        |        - CAST(round(ln(CAST(n.n_tokens AS DOUBLE)) * 1e6) AS BIGINT))
        |      + n.n_tokens // 2) // n.n_tokens AS BIGINT) / 1e6 AS kl_nats
        |FROM parts p JOIN nsrc n USING (source), ncte
        |ORDER BY n.source""".stripMargin,

    // TextDedup.t12UnigramXent: corpus-unigram cross-entropy per doc.
    // ln c is snapped to integer micro-nats per vocab row so the per-doc
    // sum is exact integer math (order-independent in both engines);
    // integer sums CAST to BIGINT (HUGEINT class).
    "t12_unigram_xent" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |tf AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |tfm AS (SELECT doc_id, token, count(*) AS m FROM tf GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(sum(m) AS BIGINT) AS c FROM tfm GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
        |d AS (SELECT doc_id,
        |        CAST(sum(m * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS slnc,
        |        CAST(sum(m) AS BIGINT) AS n_tokens
        |      FROM tfm JOIN vocab USING (token) GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  round(ln(CAST(n_total AS DOUBLE))
        |    - CAST(slnc AS DOUBLE) / (n_tokens * 1000000.0), 6) AS xent
        |FROM d, n ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t16BigramLmXent: Laplace-smoothed bigram LM trained on
    // the t9 'train' split, every doc scored under it. ln P per distinct
    // bigram is snapped to integer micro-nats (the t12 discipline), so
    // the per-doc accumulation is order-independent integer math.
    "t16_bigram_lm_xent" ->
      s"""WITH tok AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
         |  FROM documents),
         |tagged AS (SELECT doc_id, toks,
         |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM tok),
         |bg AS (SELECT doc_id, split,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM tagged),
         |tfm AS (SELECT doc_id, split, bigram, count(*) AS m
         |  FROM bg GROUP BY 1, 2, 3),
         |cb AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
         |    CAST(sum(m) AS BIGINT) AS cb
         |  FROM tfm WHERE split = 'train' GROUP BY 1, 2),
         |cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cb GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS v
         |  FROM (SELECT unnest(toks) AS token FROM tagged
         |        WHERE split = 'train') u),
         |d AS (SELECT t.doc_id, t.split,
         |    CAST(sum(t.m * CAST(round(
         |      (ln(CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE))
         |       - ln(CAST(coalesce(cw.cw, 0) + v.v AS DOUBLE))) * 1000000)
         |      AS BIGINT)) AS BIGINT) AS slnp,
         |    CAST(sum(t.m) AS BIGINT) AS n_bigrams
         |  FROM tfm t LEFT JOIN cb ON t.bigram = cb.bigram
         |       LEFT JOIN cw ON split_part(t.bigram, ' ', 1) = cw.w1
         |       CROSS JOIN v
         |  GROUP BY 1, 2)
         |SELECT doc_id, split, n_bigrams,
         |  round(-CAST(slnp AS DOUBLE) / (n_bigrams * 1000000.0), 6) AS xent
         |FROM d ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p17DsirSelect: per-doc log-likelihood ratio under the
    // val-split (target) vs train-split (source) bigram LMs — each
    // lnP snapped to micro-nats per LM like t16, the ratio summed as
    // exact integers, top-100 most target-like docs.
    "p17_dsir_select" ->
      s"""WITH tok AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
         |  FROM documents),
         |tagged AS (SELECT doc_id, toks,
         |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM tok),
         |bg AS (SELECT doc_id, split,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM tagged),
         |tfm AS (SELECT doc_id, split, bigram, count(*) AS m
         |  FROM bg GROUP BY 1, 2, 3),
         |cbs AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
         |    CAST(sum(m) AS BIGINT) AS cb
         |  FROM tfm WHERE split = 'train' GROUP BY 1, 2),
         |cws AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cbs GROUP BY 1),
         |vs AS (SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS v
         |  FROM (SELECT unnest(toks) AS token FROM tagged
         |        WHERE split = 'train') u),
         |cbt AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
         |    CAST(sum(m) AS BIGINT) AS cb
         |  FROM tfm WHERE split = 'val' GROUP BY 1, 2),
         |cwt AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cbt GROUP BY 1),
         |vt AS (SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS v
         |  FROM (SELECT unnest(toks) AS token FROM tagged
         |        WHERE split = 'val') u),
         |d AS (SELECT t.doc_id, t.split,
         |    CAST(sum(t.m * (
         |      CAST(round((ln(CAST(coalesce(cbt.cb, 0) + 1 AS DOUBLE))
         |        - ln(CAST(coalesce(cwt.cw, 0) + vt.v AS DOUBLE))) * 1000000)
         |        AS BIGINT)
         |      - CAST(round((ln(CAST(coalesce(cbs.cb, 0) + 1 AS DOUBLE))
         |        - ln(CAST(coalesce(cws.cw, 0) + vs.v AS DOUBLE))) * 1000000)
         |        AS BIGINT))) AS BIGINT) AS llr_micro,
         |    CAST(sum(t.m) AS BIGINT) AS n_bigrams
         |  FROM tfm t LEFT JOIN cbs ON t.bigram = cbs.bigram
         |       LEFT JOIN cws ON split_part(t.bigram, ' ', 1) = cws.w1
         |       LEFT JOIN cbt ON t.bigram = cbt.bigram
         |       LEFT JOIN cwt ON split_part(t.bigram, ' ', 1) = cwt.w1
         |       CROSS JOIN vs CROSS JOIN vt
         |  GROUP BY 1, 2)
         |SELECT doc_id, split, n_bigrams, llr_micro,
         |  round(CAST(llr_micro AS DOUBLE) / 1e6, 6) AS llr
         |FROM d ORDER BY llr_micro DESC, doc_id LIMIT 100""".stripMargin,

    // TextDedup.t17NgramNovelty: fraction of each doc's DISTINCT bigrams
    // absent from the train split's bigram vocabulary. Per-doc dedup is
    // list_distinct BEFORE the unnest (mirroring the Spark map-side
    // array_distinct); zero-bigram docs re-enter with novelty 0.0 via
    // the left join, the rep_frac guard discipline.
    "t17_ngram_novelty" ->
      s"""WITH tok AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
         |  FROM documents),
         |tagged AS (SELECT doc_id, toks,
         |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM tok),
         |db AS (SELECT doc_id, split,
         |    unnest(list_distinct(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1]))) AS bigram
         |  FROM tagged),
         |tv AS (SELECT DISTINCT bigram FROM db WHERE split = 'train'),
         |per AS (SELECT d.doc_id, count(*) AS nd,
         |    sum(CASE WHEN tv.bigram IS NULL THEN 1 ELSE 0 END) AS nn
         |  FROM db d LEFT JOIN tv ON d.bigram = tv.bigram GROUP BY 1)
         |SELECT t.doc_id, t.split,
         |  CAST(coalesce(per.nd, 0) AS BIGINT) AS n_distinct_bigrams,
         |  CAST(coalesce(per.nn, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN coalesce(per.nd, 0) > 0
         |    THEN round(CAST(per.nn AS DOUBLE) / per.nd, 6)
         |    ELSE 0.0 END AS novelty
         |FROM tagged t LEFT JOIN per ON t.doc_id = per.doc_id
         |ORDER BY t.doc_id LIMIT 2000""".stripMargin,
  )

  val similarity: Map[String, String] = Map(
    // Embeddings.s21Silhouette: GridMath per-dim centroid means, the
    // |v|²−2v·m+|m|² distance from the same three folds, per-vector s
    // snapped to micro-units, half-up HUGEINT mean per label.
    "s21_silhouette" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
         |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
         |         FROM cd GROUP BY label),
         |d AS (SELECT e.vec_id, e.label, c.label AS c_label,
         |    sqrt(${dotSql("e.embedding", "e.embedding")}
         |      - 2 * ${dotSql("e.embedding", "centroid")}
         |      + ${dotSql("centroid", "centroid")}) AS dist
         |  FROM embeddings e, cent c),
         |ab AS (SELECT vec_id, label,
         |    min(CASE WHEN c_label = label THEN dist END) AS a,
         |    min(CASE WHEN c_label != label THEN dist END) AS b
         |  FROM d GROUP BY 1, 2),
         |sm AS (SELECT label,
         |    CAST(round(a * 1e6) AS BIGINT) AS a_micro,
         |    CAST(round(b * 1e6) AS BIGINT) AS b_micro,
         |    CAST(round((b - a) / greatest(a, b) * 1e6) AS BIGINT) AS s_micro
         |  FROM ab)
         |SELECT label, count(*) AS n,
         |  CAST((CAST(sum(a_micro) AS HUGEINT) + count(*) // 2)
         |    // count(*) AS BIGINT) / 1e6 AS mean_a,
         |  CAST((CAST(sum(b_micro) AS HUGEINT) + count(*) // 2)
         |    // count(*) AS BIGINT) / 1e6 AS mean_b,
         |  CAST((CAST(sum(s_micro) AS HUGEINT) + count(*) // 2)
         |    // count(*) AS BIGINT) / 1e6 AS mean_sil
         |FROM sm GROUP BY label ORDER BY label""".stripMargin
    },

    // Embeddings.s23MmrDiversify: greedy MMR (λ = 0.7) over the exact
    // top-20, unrolled as k−1 chained step-CTEs (greedy selection is
    // order-dependent — recursion depth = k, paid at build time). rel
    // and sim snap to micro-cosines; each pick is an integer argmax
    // 7·rel − 3·maxsim in tenth-micro units with a vec_id tie-break.
    "s23_mmr_diversify" -> {
      def step(i: Int): String =
        s"""sel$i AS (SELECT q_id, vec_id FROM sel${i - 1}
           |  UNION ALL SELECT q_id, vec_id FROM s${i - 1}),
           |m$i AS (SELECT c.q_id, c.vec_id, c.cos, c.rel_micro,
           |    7 * c.rel_micro - 3 * max(p.sim_micro) AS score10
           |  FROM cand c JOIN pr p ON p.q_id = c.q_id AND p.va = c.vec_id
           |  JOIN sel$i s ON s.q_id = p.q_id AND s.vec_id = p.vb
           |  WHERE NOT EXISTS (SELECT 1 FROM sel$i x
           |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
           |  GROUP BY c.q_id, c.vec_id, c.cos, c.rel_micro),
           |s$i AS (SELECT q_id, vec_id, cos, score10, $i AS rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY score10 DESC, vec_id) AS rn FROM m$i) WHERE rn = 1)"""
          .stripMargin
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
         |    FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q_id, vec_id, embedding,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE vec_id != q_id),
         |cand AS (SELECT q_id, vec_id, embedding, cos,
         |    CAST(round(cos * 1000000) AS BIGINT) AS rel_micro
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id) AS crk FROM sc)
         |  WHERE crk <= 20),
         |pr AS (SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
         |    CAST(round(round(${cosineSql("a.embedding", "b.embedding")}, 6)
         |      * 1000000) AS BIGINT) AS sim_micro
         |  FROM cand a JOIN cand b
         |    ON a.q_id = b.q_id AND a.vec_id != b.vec_id),
         |sel1 AS (SELECT q_id, vec_id FROM cand WHERE 1 = 0),
         |s1 AS (SELECT q_id, vec_id, cos, 7 * rel_micro AS score10, 1 AS rk
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rel_micro DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
         |${(2 to 5).map(step).mkString(",\n")},
         |allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |  UNION ALL SELECT * FROM s5)
         |SELECT q_id, rk, vec_id, cos,
         |  CAST(score10 AS DOUBLE) / 10000000.0 AS mmr
         |FROM allsel ORDER BY q_id, rk""".stripMargin
    },

    "s1_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (SELECT q_id, vec_id,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE vec_id != q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, cos FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // Embeddings.s19FilteredAnn: s1's ranking with the namespace
    // predicate (label = query label) in the candidate set — the
    // metadata PRE-filter, never a post-filtered global top-k.
    "s19_filtered_ann" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label,
         |    embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (SELECT q_id, vec_id,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE vec_id != q_id AND label = q_label),
         |rk AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, cos FROM rk WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    // Embeddings.s13KnnClassify: majority label over s1's exact top-5,
    // ties toward the smaller label; correct ⟺ recovers the query label.
    "s13_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (SELECT q_id, vec_id,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE vec_id != q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored),
         |votes AS (SELECT rk.q_id, e.label, count(*) AS n_votes
         |  FROM rk JOIN embeddings e ON rk.vec_id = e.vec_id
         |  WHERE rk.rk <= 5 GROUP BY 1, 2),
         |best AS (SELECT q_id, label, n_votes,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY n_votes DESC, label) AS rn
         |  FROM votes)
         |SELECT b.q_id, b.label AS pred_label, b.n_votes,
         |  t.label AS true_label, (b.label = t.label) AS correct
         |FROM best b JOIN embeddings t ON b.q_id = t.vec_id
         |WHERE b.rn = 1 ORDER BY b.q_id""".stripMargin,

    // Embeddings.s17HardNegatives: per anchor the top-1 cosine neighbour
    // of a DIFFERENT label — brute-force twin of the mining read.
    "s17_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS anchor_label,
         |    embedding AS q_emb FROM embeddings WHERE vec_id < 50),
         |scored AS (SELECT q_id, anchor_label, vec_id,
         |    label AS neg_label,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE label != anchor_label),
         |rk AS (SELECT *,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id, anchor_label, vec_id AS neg_id, neg_label, cos
         |FROM rk WHERE rn = 1 ORDER BY q_id""".stripMargin,

    // Embeddings.s18TripletMining: positive = top-1 same-label, negative
    // = s17's top-1 different-label; margin of the two snapped cosines.
    "s18_triplet_mining" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS anchor_label,
         |    embedding AS q_emb FROM embeddings WHERE vec_id < 50),
         |scored AS (SELECT q_id, anchor_label, vec_id, label,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM embeddings, q WHERE vec_id != q_id),
         |pr AS (SELECT q_id, anchor_label, vec_id AS pos_id, cos AS pos_cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored WHERE label = anchor_label),
         |nr AS (SELECT q_id, vec_id AS neg_id, cos AS neg_cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored WHERE label != anchor_label)
         |SELECT p.q_id, p.anchor_label, p.pos_id, p.pos_cos,
         |  n.neg_id, n.neg_cos,
         |  round(p.pos_cos - n.neg_cos, 6) AS margin,
         |  (p.pos_cos - n.neg_cos >= 0.1) AS satisfied
         |FROM pr p JOIN nr n ON p.q_id = n.q_id
         |WHERE p.rn = 1 AND n.rn = 1 ORDER BY p.q_id""".stripMargin,

    // Embeddings.s14RadiusSearch: ALL neighbours with cosine ≥ 0.3 per
    // query — the variable-cardinality range-search read.
    "s14_radius_search" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10)
         |SELECT q_id, vec_id,
         |  round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |FROM embeddings, q
         |WHERE vec_id != q_id
         |  AND round(${cosineSql("q_emb", "embedding")}, 6) >= 0.3
         |ORDER BY q_id, vec_id""".stripMargin,

    "s2_ivf_neardup" ->
      s"""SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // Embeddings.s7IvfProbe2: computed coarse quantizer (exact per-dim
    // centroid means, the s4 exactAvg discipline), each query probes its
    // top-2 centroid cells, top-3 cosine within the probed cells. The
    // oracle replicates centroid DERIVATION + cell RANKING + search, so
    // the whole IVF architecture is hash-gated, not just the cosine.
    "s7_ivf_probe2" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
         |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
         |         FROM cd GROUP BY label),
         |qc AS (SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.label AS c_label,
         |    round(${dotSql("q_emb", "centroid")} /
         |      (sqrt(${dotSql("q_emb", "q_emb")}) *
         |       sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
         |       cent c),
         |cells AS (SELECT q_id, q_emb, c_label FROM (
         |    SELECT q_id, q_emb, c_label,
         |      row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, c_label) AS crk
         |    FROM qc) WHERE crk <= 2),
         |cand AS (SELECT q_id, e.vec_id,
         |    round(${cosineSql("q_emb", "e.embedding")}, 6) AS cos
         |  FROM cells JOIN embeddings e
         |    ON e.label = cells.c_label AND e.vec_id != cells.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM cand)
         |SELECT q_id, rk, vec_id, cos FROM rk WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin
    },

    // Embeddings.s11PqAdc: product quantization end-to-end — per-(label,
    // subspace) codebooks from the exact grid means, code assignment by
    // rounded ‖c‖²−2·x_s·c argmin, query lookup table snapped to integer
    // micro-units, 4-term integer ADC accumulation, salted top-3, exact
    // cosine re-rank of the survivors. The oracle replays every stage.
    "s11_pq_adc" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      def sliceDot(emb: String, sub: String) = dotSql(
        s"list_slice($emb, 1 + 16 * $sub, 16 + 16 * $sub)", "codeword")
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
         |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cwv AS (SELECT label, CAST((dim - 1) // 16 AS INT) AS sub,
         |    list(m ORDER BY dim) AS codeword
         |  FROM cd GROUP BY 1, 2),
         |cb AS (SELECT label, sub, codeword,
         |    ${dotSql("codeword", "codeword")} AS cnorm2 FROM cwv),
         |asg AS (SELECT e.vec_id, c.sub, c.label,
         |    round(c.cnorm2 - 2 * ${sliceDot("e.embedding", "c.sub")}, 6) AS dist
         |  FROM embeddings e, cb c),
         |codes AS (SELECT vec_id, sub, label AS code FROM (
         |    SELECT vec_id, sub, label, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dist, label) AS rk
         |    FROM asg) WHERE rk = 1),
         |lut AS (SELECT q.vec_id AS q_id, c.sub, c.label AS code,
         |    CAST(round(${sliceDot("q.embedding", "c.sub")} * 1000000) AS BIGINT)
         |      AS term_micro
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
         |       cb c),
         |adc AS (SELECT l.q_id, k.vec_id,
         |    round(CAST(sum(l.term_micro) AS DOUBLE) / 1000000.0, 6) AS adc
         |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.code
         |  WHERE k.vec_id != l.q_id GROUP BY 1, 2),
         |rk AS (SELECT q_id, vec_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rk FROM adc)
         |SELECT r.q_id, r.rk, r.vec_id, r.adc,
         |  round(${cosineSql("qe.embedding", "e.embedding")}, 6) AS cos
         |FROM rk r JOIN embeddings e ON r.vec_id = e.vec_id
         |     JOIN embeddings qe ON r.q_id = qe.vec_id
         |WHERE r.rk <= 3 ORDER BY r.q_id, r.rk""".stripMargin
    },

    // Embeddings.s20IvfPq: the two quantizers composed — s7's probe-2
    // coarse ranking restricts the candidate set; s11's integer-micro
    // ADC scores the survivors' code bytes; exact cosine refine of the
    // top-3. Every stage of the IVFPQ index is replayed and hash-gated.
    "s20_ivfpq" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      def sliceDot(emb: String, sub: String) = dotSql(
        s"list_slice($emb, 1 + 16 * $sub, 16 + 16 * $sub)", "codeword")
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
         |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
         |         FROM cd GROUP BY label),
         |qc AS (SELECT q.vec_id AS q_id, c.label AS c_label,
         |    round(${dotSql("q.embedding", "centroid")} /
         |      (sqrt(${dotSql("q.embedding", "q.embedding")}) *
         |       sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
         |       cent c),
         |cells AS (SELECT q_id, c_label FROM (
         |    SELECT q_id, c_label, row_number() OVER (
         |      PARTITION BY q_id ORDER BY ccos DESC, c_label) AS crk
         |    FROM qc) WHERE crk <= 2),
         |cwv AS (SELECT label, CAST((dim - 1) // 16 AS INT) AS sub,
         |    list(m ORDER BY dim) AS codeword
         |  FROM cd GROUP BY 1, 2),
         |cb AS (SELECT label, sub, codeword,
         |    ${dotSql("codeword", "codeword")} AS cnorm2 FROM cwv),
         |asg AS (SELECT e.vec_id, c.sub, c.label,
         |    round(c.cnorm2 - 2 * ${sliceDot("e.embedding", "c.sub")}, 6) AS dist
         |  FROM embeddings e, cb c),
         |codes AS (SELECT vec_id, sub, label AS code FROM (
         |    SELECT vec_id, sub, label, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dist, label) AS rk
         |    FROM asg) WHERE rk = 1),
         |lut AS (SELECT q.vec_id AS q_id, c.sub, c.label AS code,
         |    CAST(round(${sliceDot("q.embedding", "c.sub")} * 1000000) AS BIGINT)
         |      AS term_micro
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
         |       cb c),
         |cand AS (SELECT cells.q_id, e.vec_id FROM cells JOIN embeddings e
         |  ON e.label = cells.c_label AND e.vec_id != cells.q_id),
         |adc AS (SELECT cn.q_id, cn.vec_id,
         |    round(CAST(sum(l.term_micro) AS DOUBLE) / 1000000.0, 6) AS adc
         |  FROM cand cn JOIN codes k ON cn.vec_id = k.vec_id
         |       JOIN lut l ON l.q_id = cn.q_id AND l.sub = k.sub
         |         AND l.code = k.code
         |  GROUP BY 1, 2),
         |rk AS (SELECT q_id, vec_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rk FROM adc)
         |SELECT r.q_id, r.rk, r.vec_id, r.adc,
         |  round(${cosineSql("qe.embedding", "e.embedding")}, 6) AS cos
         |FROM rk r JOIN embeddings e ON r.vec_id = e.vec_id
         |     JOIN embeddings qe ON r.q_id = qe.vec_id
         |WHERE r.rk <= 3 ORDER BY r.q_id, r.rk""".stripMargin
    },

    // Embeddings.s12CentroidDrift: per label, cosine between the train
    // centroid and each non-train centroid — grid-exact per-(label,
    // split) means via the doc_id ≡ vec_id split alignment.
    "s12_centroid_drift" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      s"""WITH sp AS (SELECT doc_id AS vec_id,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS b
         |    FROM documents)),
         |e AS (SELECT em.vec_id, em.label, em.embedding, sp.split
         |  FROM embeddings em JOIN sp USING (vec_id)),
         |cd AS (SELECT label, split, CAST(i AS INT) AS dim, $centAvg AS m,
         |    count(*) AS n
         |  FROM e, range(1, 65) t(i) GROUP BY label, split, i),
         |cent AS (SELECT label, split, list(m ORDER BY dim) AS c,
         |    max(n) AS n
         |  FROM cd GROUP BY 1, 2)
         |SELECT a.label, b.split, CAST(a.n AS BIGINT) AS n_train,
         |  CAST(b.n AS BIGINT) AS n_split,
         |  round(${dotSql("a.c", "b.c")} /
         |    (sqrt(${dotSql("a.c", "a.c")}) * sqrt(${dotSql("b.c", "b.c")})), 6)
         |    AS centroid_cos
         |FROM cent a JOIN cent b
         |  ON a.label = b.label AND a.split = 'train' AND b.split != 'train'
         |ORDER BY a.label, b.split""".stripMargin
    },

    // Embeddings.s10KmeansReassign: spherical-Lloyd E-step — every
    // vector scores every exact-integer-unit centroid and moves to the
    // nearest (cosine desc, c_label tie-break).
    "s10_kmeans_reassign" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
         |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
         |         FROM cd GROUP BY label),
         |sc AS (SELECT e.vec_id, e.label AS old_label, c.label AS c_label,
         |    round(${dotSql("e.embedding", "centroid")} /
         |      (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |       sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
         |  FROM embeddings e, cent c),
         |rk AS (SELECT vec_id, old_label, c_label, ccos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, c_label) AS rk
         |  FROM sc)
         |SELECT vec_id, old_label, c_label AS new_label, ccos AS cos,
         |  (old_label != c_label) AS moved
         |FROM rk WHERE rk = 1 ORDER BY vec_id""".stripMargin
    },

    // Embeddings.s6SemanticDedup: drop the higher vec_id of each
    // within-cell cosine ≥ 0.3 pair; survivors keep=true.
    "s6_semantic_dedup" ->
      s"""WITH drops AS (SELECT DISTINCT b.vec_id
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3)
         |SELECT e.vec_id, e.label, (d.vec_id IS NULL) AS keep
         |FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    // Embeddings.s2bIvfCapped: labels split into ceil(n/32) sub-cells by
    // vec_id modulo (deterministic, map-side — no row_number hotspot);
    // pairs only within (label, sub-cell).
    "s2b_ivf_capped" ->
      s"""WITH counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
         |cells AS (SELECT e.vec_id, e.label, e.embedding,
         |    ((e.vec_id % ((c.n + 31) // 32)) + ((c.n + 31) // 32))
         |      % ((c.n + 31) // 32) AS cell
         |  FROM embeddings e JOIN counts c ON e.label = c.label)
         |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM cells a JOIN cells b
         |  ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "s3_lsh_ann" -> {
      val bucket = (0 until 4)
        .map(p => s"(${planeSignSql(p, "embedding")}) * ${1 << p}")
        .mkString(" + ")
      s"""WITH bucketed AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |      FROM bucketed WHERE vec_id < 10),
         |cand AS (SELECT q_id, vec_id,
         |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
         |  FROM bucketed, q WHERE bucket = q_bucket AND vec_id != q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM cand)
         |SELECT q_id, rk, vec_id, cos FROM rk WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
    },

    // Embeddings.s5LshNearDup — banded hyperplane near-dup pairs; the
    // oracle replicates the BANDING (same md5-derived planes), not just
    // the cosine, so the candidate-generation semantics are gated too.
    "s5_lsh_neardup" -> {
      val b0 = (0 until 4)
        .map(p => s"(${planeSignSql(p, "embedding")}) * ${1 << p}")
        .mkString(" + ")
      val b1 = (4 until 8)
        .map(p => s"(${planeSignSql(p, "embedding")}) * ${1 << (p - 4)}")
        .mkString(" + ")
      s"""WITH sig AS (SELECT vec_id, embedding, $b0 AS b0, $b1 AS b1 FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
         |  UNION ALL
         |  SELECT a.vec_id, b.vec_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.vec_id < b.vec_id)
         |SELECT DISTINCT id_a, id_b, cos FROM cand WHERE cos >= 0.35
         |ORDER BY id_a, id_b""".stripMargin
    },

    "s4_label_centroids" ->
      s"""SELECT label, CAST(i - 1 AS INT) AS dim,
        |  ${Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)} AS mean_v,
        |  count(*) AS n
        |FROM embeddings, range(1, 5) t(i)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
  )

  val events: Map[String, String] = Map(
    // Events.e25SessionPairs: identical e2 sessionization, DISTINCT
    // per-session type sets, pair support, and the HUGEINT half-up
    // micro-lift division (Spark's decimal(38,0) intDiv twin).
    "e25_session_pairs" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |        AS session_seq
        |      FROM f),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |tot AS (SELECT count(*) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, session_seq FROM st)),
        |tc AS (SELECT event_type, count(*) AS cnt FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    count(*) AS support
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.ta, pr.tb, pr.support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  CAST((CAST(pr.support AS HUGEINT) * tot.n_sessions * 1000000
        |      + (CAST(ca.cnt AS HUGEINT) * cb.cnt) // 2)
        |    // (CAST(ca.cnt AS HUGEINT) * cb.cnt) AS BIGINT) / 1e6 AS lift
        |FROM pr JOIN tc ca ON ca.event_type = pr.ta
        |  JOIN tc cb ON cb.event_type = pr.tb, tot
        |ORDER BY ta, tb""".stripMargin,

    // Events.e26BotRegularity: per-user inter-event gap moments as exact
    // integers; regular ⇔ cv < ½ ⇔ 4·(n·Σx² − S²) < S² (one integer
    // cross-multiplication, HUGEINT-promoted); cv divides after one IEEE
    // sqrt of the same exact integer on both engines.
    "e26_bot_regularity" ->
      """WITH g AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (SELECT user_id, gap_us // 1000000 AS gap_s
        |  FROM g WHERE gap_us IS NOT NULL),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |    CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
        |    CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_sq_gap_s
        |  FROM s GROUP BY 1)
        |SELECT user_id, n_gaps, sum_gap_s, sum_sq_gap_s,
        |  ((sum_gap_s > 0 AND 4 * (CAST(n_gaps AS HUGEINT) * sum_sq_gap_s
        |     - CAST(sum_gap_s AS HUGEINT) * sum_gap_s)
        |     < CAST(sum_gap_s AS HUGEINT) * sum_gap_s)
        |   OR sum_gap_s = 0) AS regular,
        |  CASE WHEN sum_gap_s > 0 THEN
        |    round(sqrt(CAST(CAST(n_gaps AS HUGEINT) * sum_sq_gap_s
        |      - CAST(sum_gap_s AS HUGEINT) * sum_gap_s AS DOUBLE))
        |      / CAST(sum_gap_s AS DOUBLE), 6)
        |  END AS cv
        |FROM a WHERE n_gaps >= 19
        |ORDER BY user_id LIMIT 2000""".stripMargin,

    // Events.e27NearestAsof: nearest-direction as-of — backward last /
    // forward first candidates from one window pass; winner by smaller
    // |Δ| on exact µs, ties to the earlier (backward) view.
    "e27_nearest_asof" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER wb AS b_id,
        |    last_value(CASE WHEN event_type = 'view' THEN us END
        |      IGNORE NULLS) OVER wb AS b_us,
        |    first_value(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER wf AS f_id,
        |    first_value(CASE WHEN event_type = 'view' THEN us END
        |      IGNORE NULLS) OVER wf AS f_us
        |  FROM x
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |u AS (SELECT *, (f_us IS NULL OR (b_us IS NOT NULL
        |    AND (us - b_us) <= (f_us - us))) AS use_back
        |  FROM c WHERE event_type = 'purchase'
        |    AND (b_us IS NOT NULL OR f_us IS NOT NULL))
        |SELECT user_id, event_id,
        |  CASE WHEN use_back THEN b_id ELSE f_id END AS view_id,
        |  CASE WHEN use_back THEN 'backward' ELSE 'forward' END AS direction,
        |  (CASE WHEN use_back THEN b_us ELSE f_us END - us) / 1000000.0
        |    AS delta_sec
        |FROM u ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    // Events.e10CohortRetention: first-activity-hour cohorts, distinct
    // users active exactly +1h / +24h after their cohort hour.
    "e10_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |f AS (SELECT user_id, min(h) AS h0 FROM ev GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, h FROM ev)
        |SELECT CAST(f.h0 AS TIMESTAMP) AS cohort_hour,
        |  count(DISTINCT f.user_id) AS n_users,
        |  count(DISTINCT CASE WHEN epoch_us(a.h) - epoch_us(f.h0) = 3600000000
        |    THEN f.user_id END) AS ret_1h,
        |  count(DISTINCT CASE WHEN epoch_us(a.h) - epoch_us(f.h0) = 86400000000
        |    THEN f.user_id END) AS ret_24h
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY 1 ORDER BY cohort_hour""".stripMargin,

    // Events.e11GapFill: last purchase amount carried forward per user
    // (IGNORE NULLS forward fill over an unbounded-preceding frame).
    "e11_gap_fill" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |FROM events ORDER BY event_id LIMIT 3000""".stripMargin,

    // Events.e13DecayedScore: hour-bucket exponential decay (half-life
    // one hour, integer micro-unit weights, age capped at 30 where the
    // weight is 0), global top-20 by decayed score.
    "e13_decayed_score" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT max(hour) AS max_hour FROM h),
        |w AS (SELECT user_id, n,
        |    1000000 // (CAST(1 AS BIGINT) << CAST(least(
        |      (epoch_us(t.max_hour) - epoch_us(hour)) // 3600000000, 30) AS INT))
        |      AS w_micro
        |  FROM h, t),
        |s AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(sum(n * w_micro) AS BIGINT) AS score_micro
        |  FROM w GROUP BY 1)
        |SELECT user_id, n_events,
        |  round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
        |FROM s ORDER BY score DESC, user_id LIMIT 20""".stripMargin,

    // Events.e14TimedFunnel: same chained minima — first view, first
    // qualifying click (>fv, ≤fv+24h), first qualifying purchase
    // (>tc, ≤fv+72h) — via joins instead of stacked windows.
    "e14_timed_funnel" ->
      """WITH x AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS fv
        |  FROM x GROUP BY user_id),
        |c AS (SELECT x.user_id, min(us) AS tc
        |  FROM x JOIN v ON x.user_id = v.user_id
        |  WHERE event_type = 'click' AND us > fv AND us <= fv + 86400000000
        |  GROUP BY x.user_id),
        |p AS (SELECT x.user_id, min(us) AS tp
        |  FROM x JOIN v ON x.user_id = v.user_id
        |         JOIN c ON x.user_id = c.user_id
        |  WHERE event_type = 'purchase' AND us > tc AND us <= fv + 259200000000
        |  GROUP BY x.user_id)
        |SELECT v.user_id,
        |  (fv IS NOT NULL) AS viewed,
        |  (tc IS NOT NULL) AS clicked_24h,
        |  (tp IS NOT NULL) AS converted_72h,
        |  CASE WHEN tp IS NOT NULL THEN (tp - fv) / 1000000.0 END AS ttc_sec
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,

    // Events.e15RfmSegments: identical integer quintile rule
    // (5 − rank₀·5 // n) over the same deterministic total orders.
    "e15_rfm_segments" ->
      """WITH x AS (SELECT user_id, event_type, value,
        |    date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day FROM events),
        |u AS (SELECT user_id, max(day) AS last_day, count(*) AS frequency,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS monetary_cents
        |  FROM x GROUP BY 1),
        |t AS (SELECT max(day) AS corpus_max_day FROM x),
        |n AS (SELECT count(*) AS n_users FROM u),
        |b AS (SELECT u.*, corpus_max_day - last_day AS recency_days
        |      FROM u, t),
        |s AS (SELECT *,
        |    5 - (row_number() OVER (ORDER BY recency_days, user_id) - 1)
        |      * 5 // n.n_users AS r_score,
        |    5 - (row_number() OVER (ORDER BY frequency DESC, user_id) - 1)
        |      * 5 // n.n_users AS f_score,
        |    5 - (row_number() OVER (ORDER BY monetary_cents DESC, user_id) - 1)
        |      * 5 // n.n_users AS m_score
        |  FROM b, n)
        |SELECT user_id, recency_days, frequency,
        |  monetary_cents / 100.0 AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
        |FROM s ORDER BY user_id""".stripMargin,

    // Events.e16ActivityStreaks: gaps-and-islands over distinct active
    // days — day − row_number constant within a consecutive run.
    "e16_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day FROM events),
        |g AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp FROM d),
        |runs AS (SELECT user_id, grp, count(*) AS len
        |         FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Events.e18Attribution: identical LOCF carry (last_value IGNORE
    // NULLS over the −1-row frame) — touch id/type/us come from the
    // same carried row in both engines.
    "e18_attribution" ->
      """WITH x AS (SELECT event_id, user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |      THEN us END IGNORE NULLS) OVER w AS t_us,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |      THEN event_id END IGNORE NULLS) OVER w AS t_id,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |      THEN event_type END IGNORE NULLS) OVER w AS t_type
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT *,
        |    (t_us IS NOT NULL AND us - t_us <= 86400000000) AS attributed
        |  FROM c WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents,
        |  CASE WHEN attributed THEN t_id ELSE -1 END AS touch_event_id,
        |  CASE WHEN attributed THEN t_type ELSE 'none' END AS touch_type,
        |  CASE WHEN attributed
        |    THEN round(CAST(us - t_us AS DOUBLE) / 1e6, 6) END AS lag_sec
        |FROM p ORDER BY event_id""".stripMargin,

    // Events.e17AnomalyHours: identical integer hour grid; the anomaly
    // flag is the exact integer cross-multiply d² ≥ 9·(k·s2 − s1²).
    "e17_anomaly_hours" ->
      """WITH hourly AS (SELECT
        |    CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |      // 3600000000 AS BIGINT) AS hour_idx,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT *,
        |    count(*) OVER fr AS k,
        |    CAST(sum(n) OVER fr AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER fr AS BIGINT) AS s2
        |  FROM hourly WINDOW fr AS (PARTITION BY event_type
        |    ORDER BY hour_idx RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT *, k * n - s1 AS d,
        |    greatest(k * s2 - s1 * s1, k * k) AS var_eff
        |  FROM w WHERE k >= 12)
        |SELECT make_timestamp(hour_idx * 3600000000) AS hour,
        |  event_type, n, k,
        |  round(CAST(s1 AS DOUBLE) / k, 6) AS baseline_mean,
        |  round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        |    / CAST(var_eff AS DOUBLE), 6) AS z_sq,
        |  (d * d >= var_eff * 9) AS is_anomaly
        |FROM f ORDER BY hour, event_type""".stripMargin,

    // Events.e19TransitionMatrix: per-user lag pairs in (ts, event_id)
    // order, then the half-up micro-division row-normalized probability.
    "e19_transition_matrix" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev_type
        |  FROM x),
        |c AS (SELECT prev_type, next_type, count(*) AS n
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS n_from FROM c)
        |SELECT prev_type, next_type, n, n_from,
        |  round(CAST((n * 1000000 + n_from // 2) // n_from AS DOUBLE)
        |    / 1e6, 6) AS prob
        |FROM t ORDER BY prev_type, next_type""".stripMargin,

    // Events.e29TypeEntropy: per-user Shannon entropy of the type
    // distribution — ln c snapped to micro-nats per (user, type) row
    // (t27 discipline), exact accumulation, one final double subtract.
    "e29_type_entropy" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
        |      AS BIGINT)) AS BIGINT) AS sclnc
        |  FROM c GROUP BY 1)
        |SELECT user_id, n_events, n_types,
        |  round(ln(CAST(n_events AS DOUBLE))
        |    - CAST(sclnc AS DOUBLE) / (n_events * 1000000.0), 6)
        |    AS type_entropy
        |FROM a ORDER BY user_id LIMIT 2000""".stripMargin,

    // Events.e28StationaryProfile: three unrolled power-iteration steps
    // over e19's micro-probability matrix, uniform start, exact-integer
    // mass products (HUGEINT) and half-up micro renormalization per
    // step — the v12 fixed-depth discipline.
    "e28_stationary_profile" -> {
      def step(i: Int): String =
        s"""s$i AS (SELECT next_type,
           |    sum(CAST(pi_micro AS HUGEINT) * p_micro) AS x
           |  FROM mat JOIN p${i - 1} ON mat.prev_type = p${i - 1}.t
           |  GROUP BY 1),
           |z$i AS (SELECT sum(x) AS z FROM s$i),
           |p$i AS (SELECT next_type AS t,
           |    CAST((x * 1000000 + z // 2) // z AS BIGINT) AS pi_micro
           |  FROM s$i, z$i)""".stripMargin
      s"""WITH x AS (SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |pr AS (SELECT event_type AS next_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id) AS prev_type
         |  FROM x),
         |c AS (SELECT prev_type, next_type, count(*) AS n
         |  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type)
         |    AS BIGINT) AS n_from FROM c),
         |mat AS (SELECT prev_type, next_type,
         |    CAST((n * 1000000 + n_from // 2) // n_from AS BIGINT)
         |      AS p_micro FROM t),
         |u AS (SELECT count(DISTINCT prev_type) AS cnt FROM mat),
         |p0 AS (SELECT DISTINCT prev_type AS t,
         |    CAST((1000000 + cnt // 2) // cnt AS BIGINT) AS pi_micro
         |  FROM mat, u),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT t AS event_type, pi_micro,
         |  CAST(pi_micro AS DOUBLE) / 1e6 AS stationary
         |FROM p3 ORDER BY event_type""".stripMargin
    },

    // Events.e24PathTrigrams: per-user consecutive event-type triples
    // in (ts, event_id) order, global top-20 with full lexicographic
    // tie-break below the count.
    "e24_path_trigrams" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |tri AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT t1, t2, t3, count(*) AS n FROM tri WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    // Events.e21ActivityHeatmap: integer dow/hour axes from epoch µs
    // (1970-01-01 = Thursday anchor), micro-division cell shares.
    "e21_activity_heatmap" ->
      """WITH x AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |a AS (SELECT ((us // 86400000000) + 4) % 7 AS dow,
        |    (us % 86400000000) // 3600000000 AS hour FROM x),
        |g AS (SELECT dow, hour, count(*) AS n FROM a GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n,
        |  round(CAST((n * 1000000 + n_total // 2) // n_total AS DOUBLE)
        |    / 1e6, 6) AS share
        |FROM g, t ORDER BY dow, hour""".stripMargin,

    // Events.e23GapPercentiles: consecutive-event gap distribution; the
    // cont-percentile interpolation h = p·(n−1) is the shared canonical
    // formula (q16 precedent), inputs exact integer µs.
    "e23_gap_percentiles" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS gap_us
        |  FROM x)
        |SELECT event_type, count(*) AS n_gaps,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        |  round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_sec,
        |  round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_sec,
        |  round(quantile_cont(gap_us, 0.99) / 1000000.0, 6) AS p99_gap_sec
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Events.e22NativeSessions: the native session_window merge rule
    // replayed in SQL — a new session starts when the gap REACHES the
    // 30-min duration (strict [ts, ts+gap) overlap ⇒ >=, where e2's
    // hand-rolled form uses >); end = last member + gap.
    "e22_native_sessions" ->
      """WITH x AS (SELECT user_id, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |      FROM f)
        |SELECT user_id,
        |  make_timestamp(min(us)) AS session_start,
        |  make_timestamp(max(us) + 1800000000) AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start LIMIT 3000""".stripMargin,

    // Events.e20ChurnTable: recency vs the corpus horizon; whole days by
    // truncating integral division of exact µs.
    "e20_churn_table" ->
      """WITH x AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |h AS (SELECT max(us) AS h_us FROM x),
        |g AS (SELECT user_id, count(*) AS n_events, max(us) AS last_us
        |  FROM x GROUP BY 1)
        |SELECT user_id, n_events, last_us,
        |  CAST((h_us - last_us) // 86400000000 AS BIGINT) AS days_inactive,
        |  ((h_us - last_us) // 86400000000 >= 7) AS churned,
        |  CASE WHEN (h_us - last_us) // 86400000000 = 0 THEN 'active'
        |       WHEN (h_us - last_us) // 86400000000 < 7 THEN 'cooling'
        |       ELSE 'churned' END AS tier
        |FROM g, h ORDER BY user_id LIMIT 3000""".stripMargin,

    "e1_window_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |  count(*) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "e2_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |      FROM f)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  (max(us) - min(us)) / 1000000.0 AS duration_sec,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq LIMIT 3000""".stripMargin,

    "e3_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e5_funnel" ->
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  (first_view IS NOT NULL) AS viewed,
        |  coalesce(first_click IS NOT NULL AND first_view IS NOT NULL
        |    AND first_click > first_view, FALSE) AS clicked_after_view,
        |  coalesce(first_purchase IS NOT NULL AND first_click IS NOT NULL
        |    AND first_view IS NOT NULL AND first_click > first_view
        |    AND first_purchase > first_click, FALSE) AS full_funnel
        |FROM f ORDER BY user_id""".stripMargin,

    // Events.e6AsofJoin — window formulation, NOT native ASOF JOIN, so
    // the (us, event_id) tie ordering matches Spark exactly.
    "e6_asof_join" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT user_id, event_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER w AS view_id,
        |    last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
        |      OVER w AS view_us
        |  FROM x
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, event_id, view_id,
        |  (us - view_us) / 1000000.0 AS lag_sec
        |FROM m WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    // Events.e12UnconvertedViews: per view, following clicks by the
    // same user within 30 minutes; unmatched views are unconverted.
    "e12_unconverted_views" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT v.user_id, v.event_id AS view_id,
        |    CAST(count(c.event_id) AS BIGINT) AS n_clicks_30m
        |  FROM x v LEFT JOIN x c
        |    ON c.event_type = 'click' AND c.user_id = v.user_id
        |    AND c.us > v.us AND c.us <= v.us + 1800000000
        |  WHERE v.event_type = 'view' GROUP BY 1, 2)
        |SELECT user_id, view_id, n_clicks_30m, n_clicks_30m > 0 AS converted
        |FROM m ORDER BY view_id LIMIT 3000""".stripMargin,

    // Events.e7RangeCount — value-based RANGE frame: tie-order-proof.
    "e7_range_count" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT user_id, event_id, event_type,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 1800000000 PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS views_30m
        |  FROM x)
        |SELECT user_id, event_id, views_30m
        |FROM m WHERE event_type = 'click'
        |ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    // Events.e8ApproxUsers — bounded-error gate: exact distinct count
    // hash-matches; approx_ok (Spark-side |hll − exact| ≤ 6% check,
    // 3σ of rsd 0.02) must come back TRUE.
    "e8_approx_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e4_top_users" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rk
        |  FROM c)
        |SELECT event_type, rk, user_id, n FROM r WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin,

    // Events.e9IntervalJoin — the oracle states the interval join
    // directly (inequality join); the Spark side's bucketized
    // (user, 30-min bucket) ∪ (user, bucket−1) equi-join must produce
    // the identical pair set.
    "e9_interval_join" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT c.user_id,
        |  c.event_id AS click_id,
        |  v.event_id AS view_id,
        |  (c.us - v.us) / 1000000.0 AS gap_sec
        |FROM x c JOIN x v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        |  AND c.user_id = v.user_id
        |  AND v.us >= c.us - 1800000000 AND v.us < c.us
        |ORDER BY c.user_id, click_id, view_id LIMIT 3000""".stripMargin,

    // Events.e4bWindowedTopUsers — per-(hour, type) leaderboard; the
    // salted two-phase rank on the Spark side is row-identical to this
    // plain row_number (any per-bucket winner wins its bucket).
    "e4b_windowed_top_users" ->
      """WITH c AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |r AS (SELECT hour, event_type, user_id, n,
        |    row_number() OVER (PARTITION BY hour, event_type
        |      ORDER BY n DESC, user_id) AS rk
        |  FROM c)
        |SELECT hour, event_type, rk, user_id, n FROM r WHERE rk <= 3
        |ORDER BY hour, event_type, rk LIMIT 3000""".stripMargin,
  )

  /** The d23 unified-closure CTE chain (text ≥0.8-Jaccard + m11 image
    * pairs + s6 embedding pairs → reachability → ucomp(doc_id,
    * component)), shared by d23 and p20. Requires `sidx` from
    * [[shingleCte]] and a RECURSIVE WITH.
    */
  private def unifiedCompCte: String =
    s"""tsizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
       |tpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      count(*) AS shared
       |    FROM sidx a JOIN sidx b
       |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2),
       |tnp AS (SELECT id_a, id_b
       |    FROM tpairs JOIN tsizes sa ON id_a = sa.doc_id
       |                JOIN tsizes sb ON id_b = sb.doc_id
       |    WHERE round(CAST(shared AS DOUBLE)
       |      / (sa.n + sb.n - shared), 6) >= 0.8),
       |$m11PairsCte,
       |ep AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |    FROM embeddings a JOIN embeddings b
       |      ON a.label = b.label AND a.vec_id < b.vec_id
       |    WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6)
       |      >= 0.3),
       |ue AS (SELECT id_a, id_b FROM tnp
       |    UNION SELECT id_a, id_b FROM allp
       |    UNION SELECT id_a, id_b FROM ep),
       |uedges AS (SELECT id_a AS src, id_b AS dst FROM ue
       |    UNION SELECT id_b, id_a FROM ue),
       |ureach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT ureach.id, uedges.dst
       |  FROM ureach JOIN uedges ON ureach.r = uedges.src),
       |ucomp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
       |          FROM ureach GROUP BY id)""".stripMargin

  /** The m11 candidate-pair CTE chain (generator-predicted phashes →
    * banded/capped close hash pairs → capped doc-pair expansion),
    * shared verbatim by the m11 report and the m13 histogram so the two
    * oracles cannot drift apart.
    */
  private def m11PairsCte: String =
      """p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |g AS (SELECT p.doc_id, i.i AS i, j.i AS j,
        |    ((p.doc_id % 16777216) * 31
        |      + (j.i * p.h // 8) * p.w + (i.i * p.w // 8)) % 16777216 AS v
        |  FROM p, range(0, 8) i(i), range(0, 8) j(i)),
        |l AS (SELECT doc_id, i, j,
        |    299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256) AS lum
        |  FROM g),
        |s AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total
        |  FROM l GROUP BY 1),
        |bits AS (SELECT l.doc_id,
        |    string_agg(CASE WHEN 64 * l.lum > s.total THEN '1' ELSE '0' END,
        |      '' ORDER BY l.j, l.i) AS phash
        |  FROM l JOIN s USING (doc_id) GROUP BY 1),
        |dh AS (SELECT DISTINCT phash FROM bits),
        |bands AS (SELECT phash, b.i AS band,
        |    substr(phash, CAST(1 + b.i * 16 AS INT), 16) AS bb
        |  FROM dh, range(0, 4) b(i)),
        |capped AS (SELECT phash, band, bb,
        |    row_number() OVER (PARTITION BY band, bb ORDER BY phash) AS rk
        |  FROM bands),
        |hp AS (SELECT DISTINCT x.phash AS pa, y.phash AS pb
        |  FROM capped x JOIN capped y
        |    ON x.band = y.band AND x.bb = y.bb AND x.phash < y.phash
        |    AND x.rk <= 256 AND y.rk <= 256),
        |hd AS (SELECT pa, pb,
        |    CAST(len(list_filter(range(1, 65),
        |      i -> substr(pa, CAST(i AS INT), 1)
        |        != substr(pb, CAST(i AS INT), 1))) AS BIGINT) AS hamming
        |  FROM hp),
        |closeh AS (SELECT * FROM hd WHERE hamming <= 10),
        |slim AS (SELECT doc_id, phash FROM (SELECT doc_id, phash,
        |    row_number() OVER (PARTITION BY phash ORDER BY doc_id) AS crk
        |  FROM bits) WHERE crk <= 64),
        |inter AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b, c.hamming
        |  FROM closeh c JOIN slim a ON a.phash = c.pa
        |    JOIN slim b ON b.phash = c.pb),
        |intra AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(0 AS BIGINT) AS hamming
        |  FROM slim a JOIN slim b
        |    ON a.phash = b.phash AND a.doc_id < b.doc_id),
        |allp AS (SELECT * FROM inter UNION ALL SELECT * FROM intra)""".stripMargin

  val multimodal: Map[String, String] = Map(
    // Multimodal.m6ImagePhash: 8×8 nearest-neighbor average-hash over
    // the decoded raster, hash-bucket clustering. The oracle replays
    // the generator's pixel formula v = (seed·31 + y·W + x) mod 2^24
    // (seed pre-reduced — the m4/m5 overflow discipline) at the same
    // integer-division grid points; Spark must decode the real
    // PNG/BMP payloads to agree bit-for-bit on all 64 threshold bits.
    "m6_image_phash" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |g AS (SELECT p.doc_id, i.i AS i, j.i AS j,
        |    ((p.doc_id % 16777216) * 31
        |      + (j.i * p.h // 8) * p.w + (i.i * p.w // 8)) % 16777216 AS v
        |  FROM p, range(0, 8) i(i), range(0, 8) j(i)),
        |l AS (SELECT doc_id, i, j,
        |    299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256) AS lum
        |  FROM g),
        |s AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total
        |  FROM l GROUP BY 1),
        |bits AS (SELECT l.doc_id,
        |    string_agg(CASE WHEN 64 * l.lum > s.total THEN '1' ELSE '0' END,
        |      '' ORDER BY l.j, l.i) AS phash
        |  FROM l JOIN s USING (doc_id) GROUP BY 1),
        |c AS (SELECT phash, count(*) AS n_cluster, min(doc_id) AS canonical
        |  FROM bits GROUP BY 1)
        |SELECT b.doc_id, b.phash, c.n_cluster, c.canonical
        |FROM bits b JOIN c USING (phash)
        |ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m12ColorStats: full-raster channel sums from the
    // generator's pixel arithmetic — the decode must reproduce every
    // pixel of every still image to hash-match.
    "m12_color_stats" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
        |         ELSE 'image/png' END AS media_type,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |px AS (SELECT p.doc_id, p.media_type, p.w, p.h,
        |    ((p.doc_id % 16777216) * 31 + y.i * p.w + x.i) % 16777216 AS v
        |  FROM p, range(0, 64) x(i), range(0, 48) y(i)
        |  WHERE x.i < p.w AND y.i < p.h),
        |s AS (SELECT doc_id, media_type, w, h,
        |    CAST(sum(v // 65536) AS BIGINT) AS sum_r,
        |    CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
        |    CAST(sum(v % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, media_type, w AS width, h AS height,
        |  sum_r, sum_g, sum_b,
        |  round(CAST(((sum_r + sum_g + sum_b) * 1000000 + (3 * w * h) // 2)
        |    // (3 * w * h) AS DOUBLE) / 1e6, 6) AS mean_channel
        |FROM s ORDER BY doc_id""".stripMargin,

    // Multimodal.m12bColorStatsSampled: the same generator pixel
    // arithmetic replayed at the stride-4 lattice only — a decoder
    // misreading stride or origin cannot hash-match; n_sampled is the
    // lattice cardinality ceil(w/4)·ceil(h/4) emitted by the loop.
    "m12b_color_stats_sampled" ->
      s"""WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
        |         ELSE 'image/png' END AS media_type,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |px AS (SELECT p.doc_id, p.media_type, p.w, p.h,
        |    ((p.doc_id % 16777216) * 31 + y.i * p.w + x.i) % 16777216 AS v
        |  FROM p, range(0, 64) x(i), range(0, 48) y(i)
        |  WHERE x.i < p.w AND y.i < p.h
        |    AND x.i % ${graft.multimodal.Multimodal.M12SampleStride} = 0
        |    AND y.i % ${graft.multimodal.Multimodal.M12SampleStride} = 0),
        |s AS (SELECT doc_id, media_type, w, h,
        |    CAST(count(*) AS BIGINT) AS n_sampled,
        |    CAST(sum(v // 65536) AS BIGINT) AS sum_r,
        |    CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
        |    CAST(sum(v % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, media_type, w AS width, h AS height, n_sampled,
        |  sum_r, sum_g, sum_b,
        |  round(CAST(((sum_r + sum_g + sum_b) * 1000000 + (3 * n_sampled) // 2)
        |    // (3 * n_sampled) AS DOUBLE) / 1e6, 6) AS mean_channel
        |FROM s ORDER BY doc_id""".stripMargin,

    // Multimodal.m11PhashNearDup: the m6 pixel replay + 16-bit banding
    // over DISTINCT hashes with the 256-per-bucket hot-band cap (ranked
    // by phash string — identical '0'/'1' lexicographic order on both
    // engines), exact 64-position Hamming on surviving hash pairs
    // (≤ 10), expanded to doc pairs through the exact-dup clusters
    // CAPPED at their 64 lowest doc_ids (the expansion must stay
    // output-sized on any corpus); same-hash doc pairs emit from the
    // same capped cluster table with hamming 0 (they share all four
    // bands by construction and never route through the band cap).
    "m11_phash_neardup" ->
      s"""WITH $m11PairsCte
        |SELECT id_a, id_b, hamming, (hamming = 0) AS exact
        |FROM allp ORDER BY id_a, id_b LIMIT 2000""".stripMargin,

    // Multimodal.m13HammingCurve: the identical banded/capped pair CTEs,
    // aggregated to the per-distance histogram + triangular running sum.
    "m13_hamming_curve" ->
      s"""WITH $m11PairsCte,
        |h AS (SELECT hamming, count(*) AS n_pairs FROM allp GROUP BY 1)
        |SELECT x.hamming, x.n_pairs, CAST(sum(y.n_pairs) AS BIGINT) AS n_cum
        |FROM h x JOIN h y ON y.hamming <= x.hamming
        |GROUP BY 1, 2 ORDER BY x.hamming""".stripMargin,

    // Mirrors Multimodal.m2FrameSample: n_frames = byte length mod 7
    // (FakeDecoder), every-2nd frame index, md5(sig ':' idx) fingerprint.
    "m2_frame_sample" ->
      """WITH x AS (SELECT doc_id, md5(text) AS sig,
        |    CAST(octet_length(encode(text)) % 7 AS INT) AS n_frames
        |  FROM documents),
        |f AS (SELECT doc_id, sig, unnest(range(0, n_frames, 2)) AS frame_idx
        |  FROM x WHERE n_frames > 0)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  md5(sig || ':' || frame_idx) AS frame_sig
        |FROM f ORDER BY doc_id, frame_idx LIMIT 2000""".stripMargin,

    // Mirrors Multimodal.m1MediaFeatures. All rows now carry REAL
    // payloads — BMP/PNG stills (doc_id mod 3 in (0,1)) and multi-frame
    // animated GIFs standing in for video — generated with dims
    // 1 + doc_id mod 64/48 and (for GIFs) 1 + doc_id mod 5 frames. The
    // oracle predicts those from doc_id arithmetic; Spark must DECODE
    // the bytes (javax.imageio, getNumImages(true) for frame count) to
    // agree.
    "m1_media_features" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |       ELSE 'video/gif' END AS media_type,
        |  CAST(1 + doc_id % 64 AS INT) AS width,
        |  CAST(1 + doc_id % 48 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 1
        |       ELSE 1 + doc_id % 5 END AS INT) AS n_frames
        |FROM documents ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Mirrors Multimodal.m3Thumbnail: aspect-fit into a 16² box, never
    // upscaled, floor division, min dimension 1. Spark's emitted dims
    // come from re-decoding the actually-resized PNG bytes; the oracle
    // predicts them arithmetically from the generator's doc_id dims.
    "m3_thumbnail" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |       ELSE 'video/gif' END AS media_type,
        |  CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN w
        |       ELSE greatest(1, w * 16 // greatest(w, h)) END AS INT) AS thumb_w,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN h
        |       ELSE greatest(1, h * 16 // greatest(w, h)) END AS INT) AS thumb_h
        |FROM d ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m4AudioFeatures: the WAV payload's samples are an
    // exact integer formula of (doc_id, i), so the oracle reproduces
    // the PCM stream with a correlated range and checks the EXACT
    // energy sum the decoder must extract from the real RIFF container.
    // Multimodal.m5VideoFeatures: the AVI payload's frame bytes are an
    // exact integer formula of (doc_id, frame, offset); the oracle
    // replays the byte sum, so the Spark side's RIFF walk (dims from
    // avih, frames counted in movi, bytes summed per 00db chunk) is
    // hash-gated end to end.
    "m5_video_features" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 16 AS INT) AS width,
        |    CAST(1 + doc_id % 12 AS INT) AS height,
        |    1 + doc_id % 6 AS nf
        |  FROM documents),
        |s AS (SELECT p.doc_id, p.width, p.height, p.nf,
        |    CAST(sum(((p.doc_id % 256) * 31 + f.i * 7919 + j.i * 2654435761) % 256)
        |      AS BIGINT) AS byte_sum
        |  FROM p, range(0, 6) f(i), range(0, 576) j(i)
        |  WHERE f.i < p.nf AND j.i < p.width * p.height * 3
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, width, height, CAST(nf AS BIGINT) AS n_frames, byte_sum
        |FROM s ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m8SceneCuts: per adjacent frame pair, the sum of
    // absolute per-byte differences; a cut where delta > 32·frameLen.
    // The oracle replays the generator's byte formula; the Spark side
    // must walk the real container and diff real payloads.
    "m8_scene_cuts" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 16 AS INT) AS w,
        |    CAST(1 + doc_id % 12 AS INT) AS h,
        |    1 + doc_id % 6 AS nf
        |  FROM documents),
        |pp AS (SELECT doc_id, w * h * 3 AS flen, nf FROM p),
        |delta AS (SELECT pp.doc_id, f.i AS f,
        |    CAST(sum(abs(
        |        ((pp.doc_id % 256) * 31 + f.i * 7919 + j.i * 2654435761) % 256
        |      - ((pp.doc_id % 256) * 31 + (f.i - 1) * 7919 + j.i * 2654435761) % 256))
        |      AS BIGINT) AS delta,
        |    max(pp.flen) AS flen
        |  FROM pp, range(1, 6) f(i), range(0, 576) j(i)
        |  WHERE f.i < pp.nf AND j.i < pp.flen
        |  GROUP BY 1, 2)
        |SELECT pp.doc_id, CAST(pp.nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(CASE WHEN d.delta > 32 * d.flen THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_cuts,
        |  CAST(coalesce(sum(d.delta), 0) AS BIGINT) AS sum_delta,
        |  CAST(coalesce(max(d.delta), 0) AS BIGINT) AS max_delta
        |FROM pp LEFT JOIN delta d ON pp.doc_id = d.doc_id
        |GROUP BY 1, 2 ORDER BY pp.doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m15VideoFingerprint: the m8 inter-frame delta (cut bit)
    // and per-frame byte sums (rise bit) folded MSB-first into a 2-bit-
    // per-transition envelope; dup groups key (w, h, n_frames,
    // fingerprint). Replays the generator's byte formula arithmetically.
    "m15_video_fingerprint" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 16 AS INT) AS w,
        |    CAST(1 + doc_id % 12 AS INT) AS h,
        |    1 + doc_id % 6 AS nf
        |  FROM documents),
        |pp AS (SELECT doc_id, w, h, w * h * 3 AS flen, nf FROM p),
        |fs AS (SELECT pp.doc_id, f.i AS f,
        |    CAST(sum(((pp.doc_id % 256) * 31 + f.i * 7919
        |      + j.i * 2654435761) % 256) AS BIGINT) AS fsum
        |  FROM pp, range(0, 6) f(i), range(0, 576) j(i)
        |  WHERE f.i < pp.nf AND j.i < pp.flen
        |  GROUP BY 1, 2),
        |delta AS (SELECT pp.doc_id, f.i AS f,
        |    CAST(sum(abs(
        |        ((pp.doc_id % 256) * 31 + f.i * 7919 + j.i * 2654435761) % 256
        |      - ((pp.doc_id % 256) * 31 + (f.i - 1) * 7919 + j.i * 2654435761) % 256))
        |      AS BIGINT) AS delta,
        |    max(pp.flen) AS flen
        |  FROM pp, range(1, 6) f(i), range(0, 576) j(i)
        |  WHERE f.i < pp.nf AND j.i < pp.flen
        |  GROUP BY 1, 2),
        |bits AS (SELECT d.doc_id, d.f,
        |    CASE WHEN d.delta > 32 * d.flen THEN 1 ELSE 0 END AS cut,
        |    CASE WHEN a.fsum > b.fsum THEN 1 ELSE 0 END AS rise,
        |    pp.nf
        |  FROM delta d
        |  JOIN fs a ON a.doc_id = d.doc_id AND a.f = d.f
        |  JOIN fs b ON b.doc_id = d.doc_id AND b.f = d.f - 1
        |  JOIN pp ON pp.doc_id = d.doc_id),
        |fp AS (SELECT pp.doc_id, pp.w, pp.h, CAST(pp.nf AS BIGINT) AS n_frames,
        |    CAST(coalesce(sum((b.cut * 2 + b.rise)
        |      * (CAST(1 AS BIGINT) << CAST(2 * (b.nf - 1 - b.f) AS INT))), 0)
        |      AS BIGINT) AS fingerprint
        |  FROM pp LEFT JOIN bits b ON pp.doc_id = b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |g AS (SELECT w, h, n_frames, fingerprint,
        |    CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS canon_id
        |  FROM fp GROUP BY 1, 2, 3, 4)
        |SELECT f.doc_id, f.w AS width, f.h AS height, f.n_frames,
        |  f.fingerprint, g.n_dups, (f.doc_id = g.canon_id) AS is_canonical
        |FROM fp f JOIN g ON f.w = g.w AND f.h = g.h
        |  AND f.n_frames = g.n_frames AND f.fingerprint = g.fingerprint
        |ORDER BY f.doc_id LIMIT 2000""".stripMargin,

    "m4_audio_features" ->
      """WITH p AS (SELECT doc_id,
        |    1000 + (doc_id % 500) * 8 AS n,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
        |  FROM documents),
        |s AS (SELECT p.doc_id, p.sample_rate, p.n,
        |    CAST(sum((((p.doc_id % 65536) * 2654435761 + i * 40503) % 65536 - 32768)
        |      * (((p.doc_id % 65536) * 2654435761 + i * 40503) % 65536 - 32768))
        |      AS BIGINT) AS sum_sq
        |  FROM p, range(0, 4992) t(i) -- max n; correlated bounds unsupported
        |  WHERE i < p.n
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, sample_rate, CAST(n AS BIGINT) AS n_samples, sum_sq,
        |  round(sqrt(CAST(sum_sq AS DOUBLE) / n), 6) AS rms
        |FROM s ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m9AudioSegments: the same PCM formula cut into
    // 500-sample windows; quiet = integer cross-multiplication against
    // the doc's mean energy, runs via gaps-and-islands on window index.
    "m9_audio_segments" ->
      """WITH p AS (SELECT doc_id, 1000 + (doc_id % 500) * 8 AS n
        |  FROM documents),
        |s AS (SELECT p.doc_id, p.n, i // 500 AS w,
        |    ((p.doc_id % 65536) * 2654435761 + i * 40503) % 65536 - 32768 AS v
        |  FROM p, range(0, 4992) t(i) WHERE i < p.n),
        |ws AS (SELECT doc_id, n, w, CAST(count(*) AS BIGINT) AS wl,
        |    CAST(sum(v * v) AS BIGINT) AS wsq
        |  FROM s GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, CAST(sum(wsq) AS BIGINT) AS tsq, count(*) AS nw
        |  FROM ws GROUP BY 1),
        |q AS (SELECT ws.doc_id, ws.w, (wsq * n < tsq * wl) AS quiet
        |  FROM ws JOIN tot ON ws.doc_id = tot.doc_id),
        |runs AS (SELECT doc_id,
        |    w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
        |  FROM q WHERE quiet),
        |rl AS (SELECT doc_id, count(*) AS len FROM runs GROUP BY doc_id, grp)
        |SELECT t.doc_id, CAST(t.nw AS INT) AS n_windows,
        |  CAST(coalesce(qq.nq, 0) AS INT) AS n_quiet,
        |  CAST(coalesce(mx.m, 0) AS INT) AS longest_quiet_run,
        |  round(CAST(coalesce(qq.nq, 0) AS DOUBLE) / t.nw, 6) AS quiet_frac
        |FROM tot t
        |LEFT JOIN (SELECT doc_id, count(*) AS nq FROM q WHERE quiet
        |           GROUP BY 1) qq ON t.doc_id = qq.doc_id
        |LEFT JOIN (SELECT doc_id, max(len) AS m FROM rl GROUP BY 1) mx
        |  ON t.doc_id = mx.doc_id
        |ORDER BY t.doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m14AudioFingerprint: the m9 window-energy grid folded
    // into a 2-bit-per-window envelope fingerprint (quiet bit = the m9
    // integer cross-multiplication, rise bit = energy up vs previous
    // window), MSB-first — sum((q·2+r)·4^(nw−rn)) is exactly the Spark
    // fold fp = fp·4 + q·2 + r. Dup groups key (n_windows, fingerprint).
    "m14_audio_fingerprint" ->
      """WITH p AS (SELECT doc_id, 1000 + (doc_id % 500) * 8 AS n
        |  FROM documents),
        |s AS (SELECT p.doc_id, p.n, i // 500 AS w,
        |    ((p.doc_id % 65536) * 2654435761 + i * 40503) % 65536 - 32768 AS v
        |  FROM p, range(0, 4992) t(i) WHERE i < p.n),
        |ws AS (SELECT doc_id, max(n) AS n, w, CAST(count(*) AS BIGINT) AS wl,
        |    CAST(sum(v * v) AS BIGINT) AS wsq
        |  FROM s GROUP BY doc_id, w),
        |tot AS (SELECT doc_id, CAST(sum(wsq) AS BIGINT) AS tsq,
        |    CAST(count(*) AS INT) AS nw
        |  FROM ws GROUP BY 1),
        |bits AS (SELECT ws.doc_id,
        |    CASE WHEN ws.wsq * ws.n < t.tsq * ws.wl THEN 1 ELSE 0 END AS q,
        |    CASE WHEN ws.wsq > lag(ws.wsq) OVER (PARTITION BY ws.doc_id
        |      ORDER BY ws.w) THEN 1 ELSE 0 END AS r,
        |    t.nw,
        |    row_number() OVER (PARTITION BY ws.doc_id ORDER BY ws.w) AS rn
        |  FROM ws JOIN tot t ON ws.doc_id = t.doc_id),
        |fp AS (SELECT doc_id, CAST(max(nw) AS INT) AS n_windows,
        |    CAST(sum((q * 2 + r) * (CAST(1 AS BIGINT) << (2 * (nw - rn))))
        |      AS BIGINT) AS fingerprint
        |  FROM bits GROUP BY doc_id),
        |g AS (SELECT n_windows, fingerprint,
        |    CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS canon_id
        |  FROM fp GROUP BY 1, 2)
        |SELECT f.doc_id, f.n_windows, f.fingerprint, g.n_dups,
        |  (f.doc_id = g.canon_id) AS is_canonical
        |FROM fp f JOIN g ON f.n_windows = g.n_windows
        |  AND f.fingerprint = g.fingerprint
        |ORDER BY f.doc_id LIMIT 2000""".stripMargin,
  )

  /** The v4 product-limit SQL — shared so v6 can compose it as a CTE
    * (defined before the map: object-init order).
    */
  private val v4KaplanMeierSql: String =
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, bt.d,
        |    CAST(n_seg - coalesce(sum(m) OVER (PARTITION BY bt.seg
        |      ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |f AS (SELECT seg, time, d, n_risk,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(
        |      CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6)
        |      AS BIGINT) ELSE 0 END AS lnf_micro,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM r),
        |c AS (SELECT *,
        |    CAST(sum(lnf_micro) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln_micro,
        |    max(dead) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS extinct
        |  FROM f)
        |SELECT seg, time, d, n_risk, cum_ln_micro,
        |  CASE WHEN extinct = 1 THEN 0.0
        |    ELSE round(exp(CAST(cum_ln_micro AS DOUBLE) / 1e6), 6)
        |  END AS survival
        |FROM c WHERE d > 0 ORDER BY seg, time""".stripMargin

  val survival: Map[String, String] = Map(
    // Survival.v3CumHazard: Nelson–Aalen with the identical half-up
    // micro-unit integral division BEFORE accumulation — curve exact in
    // both engines. d=0 times contribute 0 micro-units, so filtering
    // them before the window does not change the accumulation.
    "v3_cum_hazard" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, bt.d,
        |    n_seg - coalesce(sum(m) OVER (PARTITION BY bt.seg
        |      ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |h AS (SELECT seg, time, d, CAST(n_risk AS BIGINT) AS n_risk,
        |    CAST((d * 1000000 + n_risk // 2) // n_risk AS BIGINT) AS h_micro
        |  FROM r),
        |c AS (SELECT *, CAST(sum(h_micro) OVER (PARTITION BY seg
        |    ORDER BY time ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_h_micro FROM h)
        |SELECT seg, time, d, n_risk, h_micro, cum_h_micro,
        |  round(CAST(cum_h_micro AS DOUBLE) / 1000000.0, 6) AS cum_hazard
        |FROM c WHERE d > 0 ORDER BY seg, time""".stripMargin,

    // Survival.v4KaplanMeier: product-limit curve carried in log space
    // as integer micro-nats (one ln snap per factor, exact integer sum);
    // d=n extinction handled by a sticky flag exactly as in Spark.
    "v4_kaplan_meier" -> v4KaplanMeierSql,

    // Survival.v6Rmst: area under the v4 step curve to the horizon —
    // exact integer micro-day units; composes the gated v4 SQL verbatim
    // (the s8/m7 composition discipline).
    "v6_rmst" ->
      s"""WITH km AS ($v4KaplanMeierSql),
         |stepped AS (SELECT seg, time,
         |    CAST(round(survival * 1e6) AS BIGINT) AS surv_micro,
         |    coalesce(lead(time, 1) OVER (PARTITION BY seg ORDER BY time),
         |      97) AS next_time
         |  FROM km)
         |SELECT seg, CAST(min(time) AS BIGINT) AS first_event_time,
         |  count(*) AS n_event_times,
         |  CAST(97 AS BIGINT) AS horizon,
         |  round(CAST(min(time) * 1000000
         |      + sum(surv_micro * (next_time - time)) AS DOUBLE) / 1e6, 6)
         |    AS rmst
         |FROM stepped GROUP BY seg ORDER BY seg""".stripMargin,

    // Survival.v5LogRank: two-sample log-rank with per-time E1/V snapped
    // to integer micro-units before the exact integer accumulation.
    // Survival.v12CoxHazardRatio: two-group Breslow Cox fit, three
    // unrolled Newton steps (the s23 chained-CTE discipline). Per-time
    // U/I terms snap to micro-units; β rounds at 6 between steps so
    // both engines iterate from identical inputs; se = 1/√I at the last
    // evaluation; the Wald CI exponentiates with the ROUNDED se.
    "v12_cox_hr" -> {
      val p = """((CAST(n1 AS DOUBLE) * exp(b.beta)) / (CAST(n0 AS DOUBLE)
        |         + CAST(n1 AS DOUBLE) * exp(b.beta)))""".stripMargin
      def it(n: Int, betaSrc: String): String =
        s"""it$n AS (SELECT t.seg, max(b.beta) AS beta,
           |    CAST(sum(CAST(round((CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE)
           |      * $p) * 1e6) AS BIGINT)) AS BIGINT) AS u_sum,
           |    CAST(sum(CAST(round(CAST(d AS DOUBLE) * $p
           |      * (1.0 - $p) * 1e6) AS BIGINT)) AS BIGINT) AS i_sum,
           |    CAST(sum(d) AS BIGINT) AS n_events,
           |    CAST(sum(d1) AS BIGINT) AS events_arm1
           |  FROM terms t JOIN $betaSrc b ON t.seg = b.seg GROUP BY t.seg),
           |b$n AS (SELECT seg, CASE WHEN i_sum > 0 THEN round(beta
           |    + CAST(u_sum AS DOUBLE) / CAST(i_sum AS DOUBLE), 6)
           |    ELSE beta END AS beta FROM it$n)""".stripMargin
      s"""WITH s AS (SELECT c_mktsegment AS seg,
         |    CAST(c_nationkey % 2 AS BIGINT) AS arm,
         |    (c_custkey % 2 = 0) AS event,
         |    CAST(c_custkey % 97 AS BIGINT) AS time
         |  FROM customer WHERE c_custkey <= 2000),
         |bt AS (SELECT seg, time,
         |    CAST(sum(CASE WHEN event AND arm = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1
         |  FROM s GROUP BY 1, 2),
         |tot AS (SELECT seg, CAST(sum(m0) AS BIGINT) AS tot0,
         |    CAST(sum(m1) AS BIGINT) AS tot1 FROM bt GROUP BY 1),
         |r AS (SELECT bt.seg, bt.time, d, d1,
         |    tot0 - coalesce(sum(m0) OVER (PARTITION BY bt.seg
         |      ORDER BY bt.time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
         |    tot1 - coalesce(sum(m1) OVER (PARTITION BY bt.seg
         |      ORDER BY bt.time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
         |  FROM bt JOIN tot ON bt.seg = tot.seg),
         |terms AS (SELECT * FROM r WHERE d > 0),
         |b0 AS (SELECT DISTINCT seg, 0.0 AS beta FROM terms),
         |${it(1, "b0")},
         |${it(2, "b1")},
         |${it(3, "b2")},
         |fin AS (SELECT b3.seg, it3.n_events, it3.events_arm1, b3.beta,
         |    round(exp(b3.beta), 6) AS hazard_ratio,
         |    CASE WHEN it3.i_sum > 0 THEN
         |      round(1.0 / sqrt(CAST(it3.i_sum AS DOUBLE) / 1e6), 6)
         |    END AS se
         |  FROM b3 JOIN it3 ON b3.seg = it3.seg)
         |SELECT seg, n_events, events_arm1, beta, hazard_ratio, se,
         |  round(exp(beta - 1.96 * se), 6) AS ci_lo,
         |  round(exp(beta + 1.96 * se), 6) AS ci_hi
         |FROM fin ORDER BY seg""".stripMargin
    },

    "v5_logrank" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    CAST(c_nationkey % 2 AS BIGINT) AS arm,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN event AND arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN event AND arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m2
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m1) AS BIGINT) AS tot1,
        |    CAST(sum(m2) AS BIGINT) AS tot2 FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, d1, d2,
        |    tot1 - coalesce(sum(m1) OVER (PARTITION BY bt.seg ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        |    tot2 - coalesce(sum(m2) OVER (PARTITION BY bt.seg ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |t2 AS (SELECT seg, d1, d2, n1, n2, d1 + d2 AS d, n1 + n2 AS n
        |  FROM r WHERE d1 + d2 > 0),
        |t3 AS (SELECT seg, d1, d2,
        |    CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS e1_micro,
        |    CASE WHEN n > 1 THEN CAST(round(CAST(d AS DOUBLE)
        |      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * CAST(n - d AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |         * CAST(n - 1 AS DOUBLE)) * 1e6) AS BIGINT)
        |      ELSE 0 END AS v_micro
        |  FROM t2)
        |SELECT seg, CAST(sum(d1) AS BIGINT) AS events_arm1,
        |  CAST(sum(d2) AS BIGINT) AS events_arm2,
        |  CAST(sum(d1 * 1000000 - e1_micro) AS BIGINT) AS ome_micro,
        |  CAST(sum(v_micro) AS BIGINT) AS var_micro,
        |  CASE WHEN sum(v_micro) > 0 THEN
        |    round((CAST(sum(d1 * 1000000 - e1_micro) AS DOUBLE) / 1e6)
        |      * (CAST(sum(d1 * 1000000 - e1_micro) AS DOUBLE) / 1e6)
        |      / (CAST(sum(v_micro) AS DOUBLE) / 1e6), 6)
        |  END AS chi2
        |FROM t3 GROUP BY seg ORDER BY seg""".stripMargin,

    // Survival.v7GreenwoodCi: v4's curve + Greenwood SE — per-time term
    // snapped to nano-units by half-up integral division, exact sum.
    "v7_greenwood_ci" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, bt.d,
        |    CAST(n_seg - coalesce(sum(m) OVER (PARTITION BY bt.seg
        |      ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |f AS (SELECT seg, time, d, n_risk,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(
        |      CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6)
        |      AS BIGINT) ELSE 0 END AS lnf_micro,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead,
        |    CASE WHEN d < n_risk THEN
        |      CAST((d * 1000000000 + (n_risk * (n_risk - d)) // 2)
        |        // (n_risk * (n_risk - d)) AS BIGINT)
        |      ELSE 0 END AS gw_nano
        |  FROM r),
        |c AS (SELECT *,
        |    CAST(sum(lnf_micro) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln_micro,
        |    max(dead) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS extinct,
        |    CAST(sum(gw_nano) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_gw_nano
        |  FROM f),
        |k AS (SELECT seg, time, d, n_risk,
        |    CASE WHEN extinct = 1 THEN 0.0
        |      ELSE round(exp(CAST(cum_ln_micro AS DOUBLE) / 1e6), 6)
        |    END AS survival, extinct, cum_gw_nano
        |  FROM c WHERE d > 0),
        |e AS (SELECT seg, time, d, n_risk, survival,
        |    CASE WHEN extinct = 1 THEN 0.0
        |      ELSE round(survival
        |        * sqrt(CAST(cum_gw_nano AS DOUBLE) / 1e9), 6)
        |    END AS se
        |  FROM k)
        |SELECT seg, time, d, n_risk, survival, se,
        |  round(greatest(survival - 1.96 * se, 0.0), 6) AS ci_lo,
        |  round(least(survival + 1.96 * se, 1.0), 6) AS ci_hi
        |FROM e ORDER BY seg, time""".stripMargin,

    // Survival.v10SurvivalAtTimes: the gated v4 SQL composed verbatim,
    // probed at 30/60/90 with arg_max; horizon-precedes-events cells
    // re-enter at 1.0 via the left join.
    "v10_survival_at_times" ->
      s"""WITH km AS ($v4KaplanMeierSql),
         |hz(horizon) AS (VALUES (30), (60), (90)),
         |segs AS (SELECT DISTINCT seg FROM km),
         |best AS (SELECT seg, horizon,
         |    max(time) AS last_event_time,
         |    arg_max(survival, time) AS s
         |  FROM km JOIN hz ON km.time <= hz.horizon GROUP BY 1, 2)
         |SELECT segs.seg, CAST(hz.horizon AS BIGINT) AS horizon,
         |  coalesce(b.last_event_time, -1) AS last_event_time,
         |  coalesce(b.s, 1.0) AS survival
         |FROM segs CROSS JOIN hz
         |LEFT JOIN best b ON b.seg = segs.seg AND b.horizon = hz.horizon
         |ORDER BY segs.seg, horizon""".stripMargin,

    // Survival.v11MedianSurvival: the v4 curve inverted at fixed levels
    // — first time S(t) ≤ q, survival there via arg_min on time;
    // never-crossing cells re-enter with the −1 sentinel.
    "v11_median_survival" ->
      s"""WITH km AS ($v4KaplanMeierSql),
         |qs(q) AS (VALUES (CAST(0.75 AS DOUBLE)), (CAST(0.50 AS DOUBLE)),
         |                 (CAST(0.25 AS DOUBLE))),
         |segs AS (SELECT DISTINCT seg FROM km),
         |crossed AS (SELECT seg, q, min(time) AS t_cross,
         |    arg_min(survival, time) AS s_at
         |  FROM km JOIN qs ON km.survival <= qs.q GROUP BY 1, 2)
         |SELECT segs.seg, qs.q,
         |  coalesce(c.t_cross, -1) AS cross_time,
         |  coalesce(c.s_at, -1.0) AS survival_at
         |FROM segs CROSS JOIN qs
         |LEFT JOIN crossed c ON c.seg = segs.seg AND c.q = qs.q
         |ORDER BY segs.seg, qs.q DESC""".stripMargin,

    // Survival.v8LifeTable: actuarial life table — doubled-integer
    // effective at-risk (2·n_enter − w), half-up micro division for q,
    // v4's log-micro product with the sticky extinction flag.
    "v8_life_table" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bb AS (SELECT seg, time // 10 AS bin,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS w,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bb GROUP BY 1),
        |r AS (SELECT bb.seg, bb.bin, bb.d, bb.w,
        |    CAST(n_seg - coalesce(sum(m) OVER (PARTITION BY bb.seg
        |      ORDER BY bb.bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_enter
        |  FROM bb JOIN tot ON bb.seg = tot.seg),
        |f AS (SELECT seg, bin, d, w, n_enter,
        |    n_enter * 2 - w AS n_eff_x2
        |  FROM r),
        |g AS (SELECT seg, bin, d, w, n_enter,
        |    CAST((d * 2000000 + n_eff_x2 // 2) // n_eff_x2 AS BIGINT)
        |      AS q_micro
        |  FROM f),
        |h AS (SELECT *, 1000000 - q_micro AS p_micro FROM g),
        |i AS (SELECT seg, bin, d, w, n_enter, q_micro,
        |    CASE WHEN p_micro > 0 THEN CAST(round(ln(
        |      CAST(p_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT)
        |      ELSE 0 END AS lnp_micro,
        |    CASE WHEN p_micro = 0 THEN 1 ELSE 0 END AS dead
        |  FROM h),
        |c AS (SELECT *,
        |    CAST(sum(lnp_micro) OVER (PARTITION BY seg ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln_micro,
        |    max(dead) OVER (PARTITION BY seg ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS extinct
        |  FROM i)
        |SELECT seg, bin, bin * 10 AS t_start, bin * 10 + 10 AS t_end,
        |  n_enter, d, w,
        |  round(CAST(q_micro AS DOUBLE) / 1e6, 6) AS q,
        |  CASE WHEN extinct = 1 THEN 0.0
        |    ELSE round(exp(CAST(cum_ln_micro AS DOUBLE) / 1e6), 6)
        |  END AS survival
        |FROM c ORDER BY seg, bin""".stripMargin,

    // Survival.v9CompetingRisks: Aalen–Johansen — S(t−) from the
    // EXCLUSIVE log-micro window, per-cause increments snapped to micro
    // once, exact integer cumulative incidence.
    "v9_competing_risks" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    CASE WHEN c_custkey % 4 = 0 THEN 1
        |         WHEN c_custkey % 4 = 2 THEN 2 ELSE 0 END AS cause,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, bt.d1, bt.d2, bt.d1 + bt.d2 AS d,
        |    CAST(n_seg - coalesce(sum(m) OVER (PARTITION BY bt.seg
        |      ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |f AS (SELECT seg, time, d1, d2, d, n_risk,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(
        |      CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6)
        |      AS BIGINT) ELSE 0 END AS lnf_micro,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM r),
        |p AS (SELECT *,
        |    CASE WHEN coalesce(max(dead) OVER (PARTITION BY seg
        |        ORDER BY time
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
        |      THEN 0.0
        |      ELSE exp(CAST(coalesce(sum(lnf_micro) OVER (PARTITION BY seg
        |        ORDER BY time
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS DOUBLE) / 1e6)
        |    END AS s_prev
        |  FROM f),
        |inc AS (SELECT seg, time, d1, d2, d, n_risk,
        |    CAST(round(s_prev * CAST(d1 AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE) * 1e6) AS BIGINT) AS inc1_micro,
        |    CAST(round(s_prev * CAST(d2 AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE) * 1e6) AS BIGINT) AS inc2_micro
        |  FROM p),
        |c AS (SELECT *,
        |    CAST(sum(inc1_micro) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cif1_micro,
        |    CAST(sum(inc2_micro) OVER (PARTITION BY seg ORDER BY time
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cif2_micro
        |  FROM inc)
        |SELECT seg, time, d1, d2, n_risk,
        |  round(CAST(cif1_micro AS DOUBLE) / 1e6, 6) AS cif_cause1,
        |  round(CAST(cif2_micro AS DOUBLE) / 1e6, 6) AS cif_cause2
        |FROM c WHERE d > 0 ORDER BY seg, time""".stripMargin,

    // Pairwise-SQL twin of the CIndexAggregator: comparable pairs are
    // (a earlier with event, b later); concordant when a.risk > b.risk,
    // ties 0.5; no comparable pairs → 0.5 (CIndex.concordance contract).
    "v1_cindex" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS DOUBLE) AS time,
        |    c_acctbal AS risk
        |  FROM customer WHERE c_custkey <= 2000),
        |pairs AS (
        |  SELECT a.seg,
        |    sum(CASE WHEN a.risk > b.risk THEN 1.0
        |             WHEN a.risk = b.risk THEN 0.5 ELSE 0.0 END) AS conc,
        |    count(*) AS comp
        |  FROM s a JOIN s b
        |    ON a.seg = b.seg AND a.event AND a.time < b.time
        |  GROUP BY a.seg),
        |counts AS (SELECT seg, count(*) AS n FROM s GROUP BY seg)
        |SELECT c.seg, CAST(c.n AS INT) AS n,
        |  round(CASE WHEN p.comp IS NULL OR p.comp = 0 THEN 0.5
        |             ELSE p.conc / p.comp END, 6) AS cindex
        |FROM counts c LEFT JOIN pairs p ON c.seg = p.seg
        |ORDER BY c.seg""".stripMargin,

    // The cleaning contract: f_disc carries an injected NaN (→ column
    // dropped), f_price carries injected Inf for partkey≡7 (mod 1000)
    // (→ those rows dropped). The oracle bakes in the same injection.
    "v2_clean_matrix" ->
      """SELECT concat(l_orderkey, '-', l_linenumber) AS row_id,
        |  l_quantity AS f_qty, l_extendedprice AS f_price, l_tax AS f_tax
        |FROM lineitem
        |WHERE l_orderkey <= 4000 AND l_partkey % 1000 != 7
        |ORDER BY row_id, f_price, f_qty, f_tax LIMIT 3000""".stripMargin,
  )

  val ingest: Map[String, String] = Map(
    // Ingest.p4QualityFilter: t4's quality formula + t11's duplicate-
    // bigram fraction + the first-failing-rule admission decision. Both
    // ratios rounded at 6 decimals BEFORE the thresholds, mirroring the
    // Spark side, so a half-ulp straddle can't flip `keep` across
    // engines.
    "p4_quality_filter" ->
      """WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |sig AS (SELECT doc_id, lang,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3
        |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        |    + (CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks)) * 0.2
        |    + (CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks)) * 0.2, 6) AS quality,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
        |    ELSE 0.0 END AS rep_frac
        |  FROM x)
        |SELECT doc_id, lang, n_tokens, quality, rep_frac,
        |  CASE WHEN n_tokens < 20 THEN 'too_short'
        |       WHEN rep_frac > 0.10 THEN 'repetitive'
        |       WHEN quality < 0.55 THEN 'low_quality'
        |       ELSE 'kept' END AS reject_reason,
        |  (n_tokens >= 20 AND rep_frac <= 0.10 AND quality >= 0.55) AS keep
        |FROM sig ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p10DatasetCard: per-(split, lang) corpus statistics —
    // doc/token counts, exact grid-average quality (the per-doc score is
    // rounded at 6 decimals, so ×10⁶ is an exact integer and the mean is
    // the shared half-up integral division), admissions under the p4
    // defaults and the admission rate.
    "p10_dataset_card" -> {
      val admitted = "CASE WHEN n_tokens >= 20 AND rep_frac <= 0.10" +
        " AND quality >= 0.55 THEN 1 ELSE 0 END"
      s"""WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
        |    ${hex4ToInt("substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} % 100 AS bucket
        |  FROM documents),
        |sig AS (SELECT doc_id, lang,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3
        |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        |    + (CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks)) * 0.2
        |    + (CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks)) * 0.2, 6) AS quality,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
        |    ELSE 0.0 END AS rep_frac
        |  FROM x)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  ${Oracles.exactAvg("quality", 6, 6)} AS mean_quality,
        |  CAST(sum($admitted) AS BIGINT) AS n_admitted,
        |  round(CAST(sum($admitted) AS DOUBLE) / count(*), 6) AS admit_rate
        |FROM sig GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
    },

    // Ingest.t14PiiRedact: the oracle PREDICTS the injection from doc_id
    // arithmetic (the m1 discipline) and constructs the redacted text
    // directly; the Spark side must actually find the PII with real
    // regexes — an under- or over-matching detector breaks the hash.
    "t14_pii_redact" ->
      """WITH r AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' reach me at <EMAIL>' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0 THEN ' call <PHONE>' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' from <IP>' ELSE '' END AS red
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_emails,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS n_phones,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_ips,
        |  md5(red) AS redacted_hash,
        |  CAST(length(red) AS INT) AS n_chars
        |FROM r ORDER BY doc_id LIMIT 2000""".stripMargin,

    // Ingest.d13IncrementalDedup: new batch (src18/src19) deduped
    // against the standing corpus — exact by d1's normalized hash,
    // near by d6's shingle Jaccard, new×existing only.
    // Ingest.d19BloomDedup: the oracle has NO bloom — the row hash
    // certifies the bloom pre-gate is decision-invariant (no false
    // negatives), which is the operator's entire correctness claim.
    "d19_bloom_dedup" ->
      """WITH hx AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
        |    (source IN ('src18', 'src19')) AS is_new
        |  FROM documents),
        |oldh AS (SELECT DISTINCT h FROM hx WHERE NOT is_new)
        |SELECT hx.doc_id, (oldh.h IS NOT NULL) AS exact_dup,
        |  (oldh.h IS NULL) AS admitted
        |FROM hx LEFT JOIN oldh ON hx.h = oldh.h
        |WHERE hx.is_new ORDER BY doc_id""".stripMargin,

    "d13_incremental_dedup" ->
      s"""WITH $shingleCte,
         |tag AS (SELECT doc_id, (source IN ('src18', 'src19')) AS is_new
         |        FROM documents),
         |hx AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h,
         |    (source IN ('src18', 'src19')) AS is_new
         |  FROM documents),
         |oldh AS (SELECT DISTINCT h FROM hx WHERE NOT is_new),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         |             count(*) AS shared
         |           FROM sidx a JOIN tag ta ON a.doc_id = ta.doc_id AND ta.is_new
         |                JOIN sidx b ON a.shingle = b.shingle
         |                JOIN tag tb ON b.doc_id = tb.doc_id AND NOT tb.is_new
         |           GROUP BY 1, 2),
         |near AS (SELECT new_id, min(old_id) AS ndof
         |         FROM shared JOIN sizes sa ON new_id = sa.doc_id
         |                     JOIN sizes sb ON old_id = sb.doc_id
         |         WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8
         |         GROUP BY 1)
         |SELECT hx.doc_id, (oldh.h IS NOT NULL) AS exact_dup,
         |  CAST(coalesce(near.ndof, -1) AS BIGINT) AS near_dup_of,
         |  (oldh.h IS NULL AND near.ndof IS NULL) AS admitted
         |FROM hx LEFT JOIN oldh ON hx.h = oldh.h
         |        LEFT JOIN near ON hx.doc_id = near.new_id
         |WHERE hx.is_new ORDER BY doc_id""".stripMargin,

    // Ingest.d13bIncrementalCapped: d13 with the scale-aware
    // stop-shingle valve (max(4, nDocs // 125) — mirrors
    // stopShingleCap) — sizes, intersections, and Jaccard all in the
    // capped shingle space (the d9b discipline); the exact-hash verdict
    // is untouched by the valve.
    "d13b_incremental_capped" ->
      s"""WITH $shingleCte,
         |capped AS (SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
         |    FROM sidx) t WHERE df <= (SELECT greatest(4, count(*)
         |      // ${graft.queries.TextDedup.StopShingleDenom})
         |    FROM documents)),
         |tag AS (SELECT doc_id, (source IN ('src18', 'src19')) AS is_new
         |        FROM documents),
         |hx AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h,
         |    (source IN ('src18', 'src19')) AS is_new
         |  FROM documents),
         |oldh AS (SELECT DISTINCT h FROM hx WHERE NOT is_new),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         |             count(*) AS shared
         |           FROM capped a JOIN tag ta ON a.doc_id = ta.doc_id AND ta.is_new
         |                JOIN capped b ON a.shingle = b.shingle
         |                JOIN tag tb ON b.doc_id = tb.doc_id AND NOT tb.is_new
         |           GROUP BY 1, 2),
         |near AS (SELECT new_id, min(old_id) AS ndof
         |         FROM shared JOIN sizes sa ON new_id = sa.doc_id
         |                     JOIN sizes sb ON old_id = sb.doc_id
         |         WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8
         |         GROUP BY 1)
         |SELECT hx.doc_id, (oldh.h IS NOT NULL) AS exact_dup,
         |  CAST(coalesce(near.ndof, -1) AS BIGINT) AS near_dup_of,
         |  (oldh.h IS NULL AND near.ndof IS NULL) AS admitted
         |FROM hx LEFT JOIN oldh ON hx.h = oldh.h
         |        LEFT JOIN near ON hx.doc_id = near.new_id
         |WHERE hx.is_new ORDER BY doc_id""".stripMargin,

    // Ingest.p6IngestManifest: the arriving batch's end-to-end verdict —
    // p4's signal formulas + t14's doc_id-arithmetic PII counts + d13's
    // dedup CTEs composed, exactly as the Spark plan composes them.
    "p6_ingest_manifest" ->
      s"""WITH $shingleCte,
         |tag AS (SELECT doc_id, (source IN ('src18', 'src19')) AS is_new
         |        FROM documents),
         |hx AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h,
         |    (source IN ('src18', 'src19')) AS is_new
         |  FROM documents),
         |oldh AS (SELECT DISTINCT h FROM hx WHERE NOT is_new),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         |             count(*) AS shared
         |           FROM sidx a JOIN tag ta ON a.doc_id = ta.doc_id AND ta.is_new
         |                JOIN sidx b ON a.shingle = b.shingle
         |                JOIN tag tb ON b.doc_id = tb.doc_id AND NOT tb.is_new
         |           GROUP BY 1, 2),
         |near AS (SELECT new_id, min(old_id) AS ndof
         |         FROM shared JOIN sizes sa ON new_id = sa.doc_id
         |                     JOIN sizes sb ON old_id = sb.doc_id
         |         WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.8
         |         GROUP BY 1),
         |newx AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    CAST(doc_id % 3 = 0 AS INT) + CAST(doc_id % 4 = 0 AS INT)
         |      + CAST(doc_id % 5 = 0 AS INT) AS n_pii
         |  FROM documents WHERE source IN ('src18', 'src19')),
         |sig AS (SELECT doc_id, n_pii,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3
         |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
         |    + (CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks)) * 0.2
         |    + (CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks)) * 0.2, 6) AS quality,
         |  CASE WHEN len(toks) >= 2 THEN
         |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
         |    ELSE 0.0 END AS rep_frac
         |  FROM newx),
         |dec AS (SELECT *,
         |  CASE WHEN n_tokens < 20 THEN 'too_short'
         |       WHEN rep_frac > 0.10 THEN 'repetitive'
         |       WHEN quality < 0.55 THEN 'low_quality'
         |       ELSE 'kept' END AS reject_reason
         |  FROM sig)
         |SELECT d.doc_id, d.n_tokens, d.quality, d.rep_frac, d.reject_reason,
         |  CAST(d.n_pii AS INT) AS n_pii,
         |  (oldh.h IS NOT NULL) AS exact_dup,
         |  CAST(coalesce(near.ndof, -1) AS BIGINT) AS near_dup_of,
         |  (d.reject_reason = 'kept' AND oldh.h IS NULL AND near.ndof IS NULL)
         |    AS ingest
         |FROM dec d JOIN hx ON d.doc_id = hx.doc_id
         |        LEFT JOIN oldh ON hx.h = oldh.h
         |        LEFT JOIN near ON d.doc_id = near.new_id
         |ORDER BY d.doc_id""".stripMargin,

    // Embeddings.s9IncrementalSemDedup: new batch (vec_id ≡ 0 mod 20)
    // checked within its IVF cell against STANDING vectors only;
    // cosine ≥ 0.3 ⇒ semantic duplicate, not admitted.
    "s9_incr_semdedup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |    (vec_id % 20 = 0) AS is_new FROM embeddings),
         |m AS (SELECT a.vec_id AS new_id, count(*) AS n_matches,
         |        min(b.vec_id) AS dof
         |      FROM e a JOIN e b
         |        ON a.label = b.label AND a.is_new AND NOT b.is_new
         |      WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |      GROUP BY 1)
         |SELECT e.vec_id, e.label,
         |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_semdup_matches,
         |  CAST(coalesce(m.dof, -1) AS BIGINT) AS dup_of,
         |  (m.dof IS NULL) AS admitted
         |FROM e LEFT JOIN m ON e.vec_id = m.new_id
         |WHERE e.is_new ORDER BY e.vec_id""".stripMargin,

    // Embeddings.s8AnnRecall: recall@3 of the s3 (LSH) and s7 (IVF)
    // paths against the exact brute-force top-3. The ANN legs reuse the
    // gated s3/s7 oracle SQL verbatim as nested CTEs, so this gate
    // composes three already-gated pipelines rather than restating them.
    "s8_ann_recall" -> {
      val exact3 =
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
           |           FROM embeddings WHERE vec_id < 10),
           |scored AS (SELECT q_id, vec_id,
           |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
           |  FROM embeddings, q WHERE vec_id != q_id),
           |rk AS (SELECT q_id, vec_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
           |  FROM scored)
           |SELECT q_id, vec_id FROM rk WHERE rk <= 3""".stripMargin
      s"""WITH exact3 AS ($exact3),
         |lsh AS (${similarity("s3_lsh_ann")}),
         |ivf AS (${similarity("s7_ivf_probe2")}),
         |base AS (SELECT q_id, count(*) AS n_exact FROM exact3 GROUP BY 1),
         |lh AS (SELECT l.q_id, count(*) AS lsh_hits FROM lsh l
         |       JOIN exact3 e ON l.q_id = e.q_id AND l.vec_id = e.vec_id
         |       GROUP BY 1),
         |ih AS (SELECT i.q_id, count(*) AS ivf_hits FROM ivf i
         |       JOIN exact3 e ON i.q_id = e.q_id AND i.vec_id = e.vec_id
         |       GROUP BY 1)
         |SELECT base.q_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(lsh_hits, 0) AS BIGINT) AS lsh_hits,
         |  CAST(coalesce(ivf_hits, 0) AS BIGINT) AS ivf_hits,
         |  round(CAST(coalesce(lsh_hits, 0) AS DOUBLE) / n_exact, 6) AS recall_lsh,
         |  round(CAST(coalesce(ivf_hits, 0) AS DOUBLE) / n_exact, 6) AS recall_ivf
         |FROM base LEFT JOIN lh ON base.q_id = lh.q_id
         |          LEFT JOIN ih ON base.q_id = ih.q_id
         |ORDER BY base.q_id""".stripMargin
    },

    // Embeddings.s24PqRecall: recall@3 of the two PQ stacks (s11 flat
    // ADC, s20 IVF-PQ) against the exact top-3 — the s8 composition
    // discipline over the quantized paths, gated legs nested verbatim.
    "s24_pq_recall" -> {
      val exact3 =
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
           |           FROM embeddings WHERE vec_id < 10),
           |scored AS (SELECT q_id, vec_id,
           |    round(${cosineSql("q_emb", "embedding")}, 6) AS cos
           |  FROM embeddings, q WHERE vec_id != q_id),
           |rk AS (SELECT q_id, vec_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
           |  FROM scored)
           |SELECT q_id, vec_id FROM rk WHERE rk <= 3""".stripMargin
      s"""WITH exact3 AS ($exact3),
         |pq AS (SELECT q_id, vec_id FROM (${similarity("s11_pq_adc")})),
         |ivfpq AS (SELECT q_id, vec_id FROM (${similarity("s20_ivfpq")})),
         |base AS (SELECT q_id, count(*) AS n_exact FROM exact3 GROUP BY 1),
         |ph AS (SELECT p.q_id, count(*) AS pq_hits FROM pq p
         |       JOIN exact3 e ON p.q_id = e.q_id AND p.vec_id = e.vec_id
         |       GROUP BY 1),
         |ih AS (SELECT i.q_id, count(*) AS ivfpq_hits FROM ivfpq i
         |       JOIN exact3 e ON i.q_id = e.q_id AND i.vec_id = e.vec_id
         |       GROUP BY 1)
         |SELECT base.q_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(pq_hits, 0) AS BIGINT) AS pq_hits,
         |  CAST(coalesce(ivfpq_hits, 0) AS BIGINT) AS ivfpq_hits,
         |  round(CAST(coalesce(pq_hits, 0) AS DOUBLE) / n_exact, 6)
         |    AS recall_pq,
         |  round(CAST(coalesce(ivfpq_hits, 0) AS DOUBLE) / n_exact, 6)
         |    AS recall_ivfpq
         |FROM base LEFT JOIN ph ON base.q_id = ph.q_id
         |          LEFT JOIN ih ON base.q_id = ih.q_id
         |ORDER BY base.q_id""".stripMargin
    },
  )

  // Multimodal.m7MediaManifest: the four gated media SQLs composed
  // verbatim as CTEs (the s8 discipline) — the manifest gates the
  // COMPOSITION, each leg is already gated on its own.
  val multimodalManifest: Map[String, String] = Map(
    "m7_media_manifest" ->
      s"""WITH m1 AS (${multimodal("m1_media_features")}),
         |m6 AS (${multimodal("m6_image_phash")}),
         |m4 AS (${multimodal("m4_audio_features")}),
         |m5 AS (${multimodal("m5_video_features")})
         |SELECT m1.doc_id, m1.media_type, m1.width, m1.height, m1.n_frames,
         |  m6.n_cluster, m6.canonical,
         |  m4.sum_sq AS audio_sum_sq, m5.byte_sum AS video_byte_sum
         |FROM m1 LEFT JOIN m6 ON m1.doc_id = m6.doc_id
         |        JOIN m4 ON m1.doc_id = m4.doc_id
         |        JOIN m5 ON m1.doc_id = m5.doc_id
         |ORDER BY m1.doc_id LIMIT 2000""".stripMargin,
  )

  // TextDedup.p9UnifiedCuration: the cross-modal keep bit — p4
  // admission ∧ ¬d7 lexical dup ∧ ¬s6 semantic dup, with the t9 split.
  // Four gated SQLs composed verbatim as nested CTEs. s6 is LEFT
  // JOINed: a document with no embedding row cannot be a semantic dup
  // (the Spark side left-joins the semantic DROP set), so its verdict
  // defaults to sem_dup = FALSE / keep-eligible rather than the row
  // vanishing from the manifest.
  val curation: Map[String, String] = Map(
    "p9_unified_curation" ->
      s"""WITH p4 AS (${ingest("p4_quality_filter")}),
         |t9 AS (${text("t9_split_assign")}),
         |d7 AS (${dedupDecision("d7_dedup_decision")}),
         |s6 AS (${similarity("s6_semantic_dedup")})
         |SELECT p4.doc_id, t9.split, p4.quality, p4.reject_reason,
         |  (NOT d7.keep) AS lex_dup,
         |  COALESCE(NOT s6.keep, FALSE) AS sem_dup,
         |  (p4.keep AND d7.keep AND COALESCE(s6.keep, TRUE)) AS keep
         |FROM p4 JOIN t9 ON p4.doc_id = t9.doc_id
         |        JOIN d7 ON p4.doc_id = d7.doc_id
         |        LEFT JOIN s6 ON p4.doc_id = s6.vec_id
         |ORDER BY p4.doc_id LIMIT 2000""".stripMargin,

    // Multimodal.m10SampleAdmission: caption admission (p4) ∧ decoded
    // minimum-resolution floor (m1 dims) — the LAION-style joint gate;
    // composes the two gated SQLs verbatim.
    "m10_sample_admission" ->
      s"""WITH m1 AS (${multimodal("m1_media_features")}),
         |p4 AS (${ingest("p4_quality_filter")})
         |SELECT m1.doc_id, m1.media_type, m1.width, m1.height,
         |  p4.keep AS admitted,
         |  (m1.width >= 8 AND m1.height >= 8) AS dims_ok,
         |  (p4.keep AND m1.width >= 8 AND m1.height >= 8) AS keep
         |FROM m1 JOIN p4 ON m1.doc_id = p4.doc_id
         |ORDER BY m1.doc_id LIMIT 2000""".stripMargin,

    // Embeddings.s16Sq8Agreement: per-dim affine int8 quantization,
    // exact integer ADC dot, agreement vs the gated s1 exact rank.
    "s16_sq8_agreement" ->
      s"""WITH ex AS (SELECT vec_id, i AS dim,
         |    CAST(embedding[i + 1] AS DOUBLE) AS v
         |  FROM embeddings, range(64) t(i)),
         |dims AS (SELECT dim, min(v) AS mn, max(v) AS mx
         |  FROM ex GROUP BY 1),
         |qv AS (SELECT vec_id, ex.dim,
         |    CASE WHEN mx > mn THEN CAST(round((v - mn) * 255.0 / (mx - mn))
         |      AS BIGINT) ELSE 0 END AS q
         |  FROM ex JOIN dims ON ex.dim = dims.dim),
         |qq AS (SELECT vec_id AS q_id, dim, q AS qa FROM qv WHERE vec_id < 10),
         |dot AS (SELECT qq.q_id, qv.vec_id, sum(qa * q) AS dotq
         |  FROM qv JOIN qq ON qv.dim = qq.dim
         |  WHERE qv.vec_id != qq.q_id GROUP BY 1, 2),
         |rkq AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY dotq DESC, vec_id) AS rk FROM dot),
         |exact AS (${similarity("s1_cosine_topk")}),
         |t1 AS (SELECT rkq.q_id, rkq.vec_id AS ann_top1,
         |    exact.vec_id AS exact_top1
         |  FROM rkq JOIN exact ON rkq.q_id = exact.q_id
         |  WHERE rkq.rk = 1 AND exact.rk = 1),
         |ov AS (SELECT rkq.q_id, count(*) AS n_overlap
         |  FROM rkq JOIN exact ON rkq.q_id = exact.q_id
         |    AND rkq.vec_id = exact.vec_id
         |  WHERE rkq.rk <= 5 GROUP BY 1)
         |SELECT t1.q_id, ann_top1, exact_top1,
         |  (ann_top1 = exact_top1) AS top1_match,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap
         |FROM t1 LEFT JOIN ov ON t1.q_id = ov.q_id ORDER BY t1.q_id""".stripMargin,

    // Embeddings.s15AnnClassify: the IVF-probe vote vs the exact vote —
    // composes the two gated SQLs verbatim.
    "s15_ann_classify" ->
      s"""WITH exact AS (${similarity("s13_knn_classify")}),
         |ann0 AS (${similarity("s7_ivf_probe2")}),
         |votes AS (SELECT ann0.q_id, e.label, count(*) AS n_votes
         |  FROM ann0 JOIN embeddings e ON ann0.vec_id = e.vec_id
         |  GROUP BY 1, 2),
         |best AS (SELECT q_id, label, n_votes, row_number() OVER (
         |    PARTITION BY q_id ORDER BY n_votes DESC, label) AS rn
         |  FROM votes)
         |SELECT b.q_id, b.label AS ann_label, b.n_votes AS ann_votes,
         |  exact.pred_label AS exact_label, exact.true_label,
         |  (b.label = exact.pred_label) AS agrees
         |FROM best b JOIN exact ON b.q_id = exact.q_id
         |WHERE b.rn = 1 ORDER BY b.q_id""".stripMargin,

    // TextDedup.p14StratifiedSample: k=5 per (lang, decile) stratum by
    // smallest "strat:"-salted content-hash; p8's decile logic inlined
    // WITHOUT its output limit so the stratification sees every doc.
    "p14_stratified_sample" ->
      s"""WITH x AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         |r0 AS (SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
         |  FROM x),
         |q AS (SELECT doc_id,
         |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
         |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
         |  FROM r0),
         |r AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk FROM q),
         |t AS (SELECT count(*) AS n_total FROM q),
         |dec AS (SELECT doc_id,
         |    CAST((rnk - 1) * 10 // n_total AS BIGINT) AS decile FROM r, t),
         |h AS (SELECT doc_id, lang,
         |    CAST(${hex4ToInt("substr(md5('strat:' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 4)")} AS BIGINT) AS bucket
         |  FROM documents),
         |s AS (SELECT h.lang, dec.decile, h.doc_id, h.bucket,
         |    row_number() OVER (PARTITION BY h.lang, dec.decile
         |      ORDER BY h.bucket, h.doc_id) AS rk
         |  FROM h JOIN dec ON h.doc_id = dec.doc_id)
         |SELECT lang, decile, CAST(rk AS BIGINT) AS rk, doc_id, bucket
         |FROM s WHERE rk <= 5 ORDER BY lang, decile, rk""".stripMargin,
  )

  // TextDedup.p18CleanRelease: p9's keep ∧ not a d10-contaminated
  // train doc — both gated SQLs nested verbatim. Declared after
  // `curation` so the composition references the gated text directly.
  val release: Map[String, String] = Map(
    "p18_clean_release" ->
      s"""WITH p9 AS (${curation("p9_unified_curation")}),
         |d10 AS (${decontamination("d10_decontamination")}),
         |cont AS (SELECT DISTINCT train_id AS doc_id FROM d10)
         |SELECT p9.doc_id, p9.split,
         |  (cont.doc_id IS NOT NULL) AS contaminated,
         |  p9.keep AS curation_keep,
         |  (p9.keep AND cont.doc_id IS NULL) AS keep
         |FROM p9 LEFT JOIN cont ON p9.doc_id = cont.doc_id
         |ORDER BY p9.doc_id""".stripMargin,
  )

  // Embeddings.s22RecallCostCurve: the IVF nprobe sweep — centroid
  // derivation + cell ranking ONCE (crk ≤ 4), then each leg filters
  // crk ≤ np, takes top-3, and joins the exact brute-force top-3. The
  // leg SQL is generated per np so all three share the cand/exact CTEs.
  private def s22Sql: String = {
    val centAvg =
      Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
    val legs = Seq(1, 2, 4).map { np =>
      s"""l$np AS (SELECT $np AS nprobe, c.n_queries, c.total_cands, h.total_hits
         |  FROM (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
         |          CAST(count(*) AS BIGINT) AS total_cands
         |        FROM cand WHERE crk <= $np) c,
         |       (SELECT CAST(count(*) AS BIGINT) AS total_hits
         |        FROM (SELECT q_id, vec_id, row_number() OVER
         |                (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |              FROM cand WHERE crk <= $np) t
         |        JOIN exact3 e ON t.q_id = e.q_id AND t.vec_id = e.vec_id
         |        WHERE t.rk <= 3) h)""".stripMargin
    }.mkString(",\n")
    s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
       |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
       |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
       |         FROM cd GROUP BY label),
       |qc AS (SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.label AS c_label,
       |    round(${dotSql("q_emb", "centroid")} /
       |      (sqrt(${dotSql("q_emb", "q_emb")}) *
       |       sqrt(${dotSql("centroid", "centroid")})), 6) AS ccos
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q,
       |       cent c),
       |qcr AS (SELECT q_id, q_emb, c_label, row_number() OVER
       |          (PARTITION BY q_id ORDER BY ccos DESC, c_label) AS crk
       |        FROM qc),
       |cand AS (SELECT q_id, crk, e.vec_id,
       |    round(${cosineSql("q_emb", "e.embedding")}, 6) AS cos
       |  FROM qcr JOIN embeddings e
       |    ON e.label = qcr.c_label AND e.vec_id != qcr.q_id
       |  WHERE qcr.crk <= 4),
       |exq AS (SELECT q.vec_id AS q_id, e.vec_id,
       |    round(${cosineSql("q.embedding", "e.embedding")}, 6) AS cos
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
       |  JOIN embeddings e ON e.vec_id != q.vec_id),
       |exact3 AS (SELECT q_id, vec_id FROM
       |  (SELECT q_id, vec_id, row_number() OVER
       |     (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM exq)
       |  WHERE rk <= 3),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS total_exact FROM exact3),
       |$legs
       |SELECT nprobe, n_queries, total_cands, total_hits, total_exact,
       |  round(CAST(total_cands AS DOUBLE) / n_queries, 6) AS avg_cands,
       |  round(CAST(total_hits AS DOUBLE) / total_exact, 6) AS recall
       |FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2
       |      UNION ALL SELECT * FROM l4) legs, ex
       |ORDER BY nprobe""".stripMargin
  }

  // Round-11 session operators: CCNet perplexity buckets, dedup-quality
  // calibration, tokenizer fertility, n-gram entropy curve, ANN
  // recall/cost Pareto sweep.
  val round11: Map[String, String] = Map(
    "s22_recall_cost" -> s22Sql,

    // Events.e31MarkovAttribution: removal-effect attribution — 5
    // absorbing chains (base + one per configured channel) × 4 unrolled
    // steps over e19's micro matrix, all half-up integer arithmetic
    // (the v12/e28 fixed-depth discipline at its largest).
    "e31_markov_attribution" -> {
      val channels = Seq("click", "error", "signup", "view")
      def legSql(sfx: String, removed: Option[String]): String = {
        val colRm = removed.map(x => s" AND m.next_type != '$x'").getOrElse("")
        val rowRm = removed.map(x => s"WHEN ty.t = '$x' THEN 0 ").getOrElse("")
        val c0 =
          s"""c${sfx}0 AS (SELECT t, CASE WHEN t = 'purchase' THEN 1000000
             |  ELSE 0 END AS cmicro FROM ty)""".stripMargin
        val steps = (1 to 4).map { k =>
          s"""c$sfx$k AS (SELECT ty.t,
             |    CASE WHEN ty.t = 'purchase' THEN 1000000
             |    ${rowRm}ELSE CAST((coalesce(sum(m.p_micro * c.cmicro), 0)
             |      + 500000) // 1000000 AS BIGINT) END AS cmicro
             |  FROM ty LEFT JOIN mat m ON m.prev_type = ty.t$colRm
             |    LEFT JOIN c$sfx${k - 1} c ON c.t = m.next_type
             |  GROUP BY ty.t)""".stripMargin
        }
        val convWhere =
          removed.map(x => s" WHERE ss.t != '$x'").getOrElse("")
        val conv =
          s"""conv$sfx AS (SELECT CAST((coalesce(sum(ss.s_micro * c.cmicro), 0)
             |  + 500000) // 1000000 AS BIGINT) AS conv
             |  FROM ss JOIN c${sfx}4 c ON ss.t = c.t$convWhere)""".stripMargin
        (c0 +: steps :+ conv).mkString(",\n")
      }
      val legs = legSql("b", None) + ",\n" +
        channels.map(x => legSql(x, Some(x))).mkString(",\n")
      val res = channels.map { x =>
        s"SELECT '$x' AS event_type, convb.conv AS base, conv$x.conv AS removed FROM convb, conv$x"
      }.mkString("\n  UNION ALL ")
      s"""WITH x AS (SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |pr AS (SELECT event_type AS next_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id) AS prev_type
         |  FROM x),
         |c AS (SELECT prev_type, next_type, count(*) AS n
         |  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type)
         |    AS BIGINT) AS n_from FROM c),
         |mat AS (SELECT prev_type, next_type,
         |    CAST((n * 1000000 + n_from // 2) // n_from AS BIGINT)
         |      AS p_micro FROM t),
         |ty AS (SELECT DISTINCT prev_type AS t FROM mat
         |       UNION SELECT DISTINCT next_type FROM mat),
         |fe AS (SELECT event_type, count(*) AS n FROM (
         |    SELECT user_id, event_type, row_number() OVER (
         |      PARTITION BY user_id ORDER BY us, event_id) AS rn FROM x)
         |  WHERE rn = 1 GROUP BY 1),
         |nu AS (SELECT CAST(sum(n) AS BIGINT) AS n_users FROM fe),
         |ss AS (SELECT event_type AS t,
         |    CAST((n * 1000000 + n_users // 2) // n_users AS BIGINT)
         |      AS s_micro
         |  FROM fe, nu),
         |$legs,
         |res AS ($res),
         |eff AS (SELECT event_type, base, removed,
         |    CASE WHEN base > 0 THEN 1000000
         |      - (removed * 1000000 + base // 2) // base ELSE 0 END
         |      AS eff_micro
         |  FROM res),
         |tot AS (SELECT CAST(sum(eff_micro) AS BIGINT) AS s FROM eff)
         |SELECT event_type, CAST(base AS DOUBLE) / 1e6 AS base_conv,
         |  CAST(removed AS DOUBLE) / 1e6 AS removed_conv,
         |  CAST(eff_micro AS DOUBLE) / 1e6 AS removal_effect,
         |  CASE WHEN tot.s > 0 THEN
         |    CAST((eff_micro * 1000000 + tot.s // 2) // tot.s AS BIGINT) / 1e6
         |  END AS attribution_share
         |FROM eff, tot ORDER BY event_type""".stripMargin
    },

    // Events.e30BotTriage: e26 ∧ e29 composed on user_id from the
    // UNGATED legs (each nested SQL with its presentation
    // ORDER BY/LIMIT stripped — kept in sync with the gated twins
    // mechanically), ONE 2000-row limit after the join; nesting the
    // LIMITed legs would truncate by user_id, not risk.
    "e30_bot_triage" -> {
      def ungate(sql: String): String = {
        val cut = sql.lastIndexOf("ORDER BY user_id LIMIT 2000")
        require(cut > 0, "e30 leg lost its presentation gate marker")
        sql.substring(0, cut)
      }
      s"""WITH reg AS (${ungate(events("e26_bot_regularity"))}),
         |ent AS (${ungate(events("e29_type_entropy"))})
         |SELECT reg.user_id, ent.n_events, reg.regular, reg.cv,
         |  ent.type_entropy,
         |  (ent.type_entropy < 0.5) AS low_entropy,
         |  (reg.regular AND ent.type_entropy < 0.5) AS bot
         |FROM reg JOIN ent ON reg.user_id = ent.user_id
         |ORDER BY reg.user_id LIMIT 2000""".stripMargin
    },

    // TextDedup.p26ContaminationBySource: d10's contaminated train set
    // (gated SQL nested verbatim) rolled up to per-source rates with
    // one half-up micro division each.
    "p26_contamination_by_source" ->
      s"""WITH d10 AS (${decontamination("d10_decontamination")}),
         |cont AS (SELECT DISTINCT train_id AS doc_id FROM d10),
         |a AS (SELECT d.source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_contaminated
         |  FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
         |  GROUP BY 1)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_contaminated,
         |  CAST((n_contaminated * 1000000 + n_docs // 2) // n_docs
         |    AS BIGINT) / 1e6 AS contamination_rate
         |FROM a ORDER BY source""".stripMargin,

    // TextDedup.t29SplitDrift: per-language total-variation distance
    // between the train and val unigram distributions — exact integer
    // cross products in HUGEINT, one half-up micro division per
    // language (TV, not JSD: no libm anywhere).
    "t29_split_drift" ->
      s"""WITH $splitCte,
         |tok AS (SELECT d.doc_id, d.lang, sp.split,
         |    unnest(string_split_regex(trim(lower(d.text)), '\\s+')) AS token
         |  FROM documents d JOIN sp ON d.doc_id = sp.doc_id
         |  WHERE sp.split IN ('train', 'val')),
         |tf AS (SELECT lang, token,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cq
         |  FROM tok GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cq) AS BIGINT) AS nq FROM tf GROUP BY 1),
         |nm AS (SELECT tf.lang,
         |    sum(abs(CAST(cp AS HUGEINT) * nq - CAST(cq AS HUGEINT) * np))
         |      AS num,
         |    CAST(count(*) AS BIGINT) AS vocab_union
         |  FROM tf JOIN tot ON tf.lang = tot.lang GROUP BY 1)
         |SELECT nm.lang, np AS n_train_tokens, nq AS n_val_tokens,
         |  vocab_union,
         |  CASE WHEN np > 0 AND nq > 0 THEN
         |    CAST((num * 1000000
         |        + (CAST(np AS HUGEINT) * nq * 2) // 2)
         |      // (CAST(np AS HUGEINT) * nq * 2) AS BIGINT) / 1e6
         |  END AS tv_distance
         |FROM nm JOIN tot ON nm.lang = tot.lang
         |ORDER BY nm.lang""".stripMargin,

    // TextDedup.p23DoremiStep: one DoReMi mirror-descent update over
    // t25's gated KL (composed verbatim as a CTE). Boosted weights are
    // rounded at 6 decimals BEFORE the normalizer sums them in exact
    // micro units, so the final weight is one BIGINT/BIGINT divide —
    // libm exp variance cannot propagate into Z.
    "p23_doremi_step" -> {
      s"""WITH kl AS (${xent("t25_source_divergence")}),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM kl),
         |scored AS (SELECT source, n_tokens, kl_nats,
         |    round(CAST(n_tokens AS DOUBLE) / n_total, 6) AS base_share,
         |    round(round(CAST(n_tokens AS DOUBLE) / n_total, 6)
         |      * exp(1.0 * kl_nats), 6) AS boosted
         |  FROM kl, tot),
         |sm AS (SELECT source, n_tokens, kl_nats, base_share, boosted,
         |    CAST(round(boosted * 1000000) AS BIGINT) AS boosted_micro
         |  FROM scored),
         |z AS (SELECT CAST(sum(boosted_micro) AS BIGINT) AS z_micro FROM sm)
         |SELECT source, n_tokens, kl_nats, base_share, boosted,
         |  round(CAST(boosted_micro AS DOUBLE) / CAST(z_micro AS DOUBLE), 6)
         |    AS weight
         |FROM sm, z ORDER BY source""".stripMargin
    },
    // TextDedup.p21PerplexityBuckets: t12's per-doc unigram xent (the
    // gated body restated WITHOUT its 2000-row gate window — the
    // buckets must see every document), per-language NTILE(3)
    // terciles ordered (xent, doc_id), per-bucket doc/token mass and
    // exact micro-nat mean.
    "p21_perplexity_buckets" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |tf AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |tfm AS (SELECT doc_id, token, count(*) AS m FROM tf GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(sum(m) AS BIGINT) AS c FROM tfm GROUP BY 1),
        |ncte AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
        |d AS (SELECT doc_id,
        |        CAST(sum(m * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS slnc,
        |        CAST(sum(m) AS BIGINT) AS n_tokens
        |      FROM tfm JOIN vocab USING (token) GROUP BY 1),
        |x AS (SELECT doc_id, n_tokens,
        |        round(ln(CAST(n_total AS DOUBLE))
        |          - CAST(slnc AS DOUBLE) / (n_tokens * 1000000.0), 6) AS xent
        |      FROM d, ncte),
        |xl AS (SELECT x.doc_id, x.n_tokens, x.xent, doc.lang
        |       FROM x JOIN documents doc USING (doc_id)),
        |t AS (SELECT *, ntile(3) OVER
        |        (PARTITION BY lang ORDER BY xent, doc_id) AS b FROM xl)
        |SELECT lang,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(CAST(round(xent * 1000000) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 1000000.0, 6) AS avg_xent
        |FROM t GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    // TextDedup.p22QualityDupLift: the p4/t4 quality formula (restated
    // without p4's gate window) ranked into global NTILE(10) deciles
    // (quality DESC, doc_id), crossed with d1's
    // md5-of-normalized-text dup membership.
    "p22_quality_dup_lift" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |sig AS (SELECT doc_id,
        |  round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3
        |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        |    + (CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks)) * 0.2
        |    + (CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks)) * 0.2, 6) AS quality
        |  FROM x),
        |h AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS hash
        |  FROM documents),
        |hc AS (SELECT hash, count(*) AS cnt FROM h GROUP BY 1),
        |d AS (SELECT sig.doc_id, sig.quality, (hc.cnt > 1) AS is_dup
        |      FROM sig JOIN h USING (doc_id) JOIN hc USING (hash)),
        |t AS (SELECT *, ntile(10) OVER
        |        (ORDER BY quality DESC, doc_id) AS decile FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_rate,
        |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 1000000.0, 6) AS avg_quality
        |FROM t GROUP BY 1 ORDER BY decile""".stripMargin,

    // TextDedup.t26TokenFertility: chars (length) and UTF-8 bytes
    // (strlen — Spark octet_length) per whitespace token, per language.
    "t26_token_fertility" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
        |    AS total_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |  round(CAST(sum(length(text)) AS DOUBLE)
        |    / sum(len(string_split_regex(trim(lower(text)), '\s+'))), 6)
        |    AS chars_per_token,
        |  round(CAST(sum(strlen(text)) AS DOUBLE)
        |    / sum(len(string_split_regex(trim(lower(text)), '\s+'))), 6)
        |    AS bytes_per_token
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,

    // TextDedup.t27NgramEntropy: Shannon entropy of the 1/2/3-gram
    // distributions per source; ln c snapped to micro-nats per distinct
    // gram (t12 discipline), Σ c·ln c in HUGEINT (t25 discipline).
    "t27_ngram_entropy" ->
      """WITH tok AS (SELECT source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT source, 1 AS n, unnest(toks) AS gram FROM tok
        |  UNION ALL
        |  SELECT source, 2 AS n, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS gram FROM tok
        |  UNION ALL
        |  SELECT source, 3 AS n, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM tok),
        |c AS (SELECT source, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |s AS (SELECT source, n, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    sum(CAST(cnt AS HUGEINT)
        |      * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT))
        |      AS sclnc
        |  FROM c GROUP BY 1, 2)
        |SELECT source, n, n_grams, vocab,
        |  round(ln(CAST(n_grams AS DOUBLE))
        |    - CAST(sclnc AS DOUBLE) / (CAST(n_grams AS DOUBLE) * 1000000.0), 6)
        |    AS entropy
        |FROM s ORDER BY source, n""".stripMargin,

    // TextDedup.p24RhoSelect: excess loss = xent under the corpus
    // unigram LM minus xent under the doc's source LM, both from ONE tf
    // pass (corpus vocab = rollup of the per-source vocab); ln c snaps
    // to micro-nats per LM; the excess expression shares one evaluation
    // order with Spark before the round-6 snap; p75 threshold via
    // quantile_cont over the identical rounded doubles.
    "p24_rho_select" ->
      """WITH tok AS (SELECT doc_id, source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |tfm AS (SELECT doc_id, source, unnest(toks) AS token FROM tok),
        |tf AS (SELECT doc_id, source, token, count(*) AS m
        |  FROM tfm GROUP BY 1, 2, 3),
        |vs AS (SELECT source, token, CAST(sum(m) AS BIGINT) AS cs
        |  FROM tf GROUP BY 1, 2),
        |vsl AS (SELECT source, token, cs,
        |    CAST(round(ln(CAST(cs AS DOUBLE)) * 1000000) AS BIGINT) AS lnc_s
        |  FROM vs),
        |vc AS (SELECT token, CAST(sum(cs) AS BIGINT) AS c FROM vs GROUP BY 1),
        |vcl AS (SELECT token, c,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS lnc_c
        |  FROM vc),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vc),
        |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_source
        |  FROM vs GROUP BY 1),
        |d AS (SELECT tf.doc_id, tf.source,
        |    CAST(sum(tf.m * vcl.lnc_c) AS BIGINT) AS slnc_c,
        |    CAST(sum(tf.m * vsl.lnc_s) AS BIGINT) AS slnc_s,
        |    CAST(sum(tf.m) AS BIGINT) AS n_tokens
        |  FROM tf JOIN vcl USING (token)
        |    JOIN vsl ON vsl.source = tf.source AND vsl.token = tf.token
        |  GROUP BY 1, 2),
        |sc AS (SELECT d.doc_id, d.source, d.n_tokens,
        |    round(ln(CAST(nt.n_total AS DOUBLE))
        |      - CAST(slnc_c AS DOUBLE) / (n_tokens * 1000000.0), 6)
        |      AS xent_corpus,
        |    round(ln(CAST(ns.n_source AS DOUBLE))
        |      - CAST(slnc_s AS DOUBLE) / (n_tokens * 1000000.0), 6)
        |      AS xent_source,
        |    round(ln(CAST(nt.n_total AS DOUBLE))
        |      - ln(CAST(ns.n_source AS DOUBLE))
        |      - CAST(slnc_c - slnc_s AS DOUBLE) / (n_tokens * 1000000.0), 6)
        |      AS excess
        |  FROM d JOIN ns ON ns.source = d.source, nt),
        |thr AS (SELECT round(quantile_cont(excess, 0.75), 6) AS p75 FROM sc)
        |SELECT doc_id, source, n_tokens, xent_corpus, xent_source, excess,
        |  p75, (excess > p75) AS selected
        |FROM sc, thr ORDER BY doc_id LIMIT 2000""".stripMargin,

    // TextDedup.t28Readability: Flesch reading ease from three exact
    // counts (t1 words, [.!?]+ sentence runs floored at 1, [aeiouy]+
    // vowel-group syllables floored at 1); the score is IEEE double
    // arithmetic over the same integers, rounded at 4.
    "t28_readability" ->
      """WITH x AS (SELECT doc_id, lang,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS n_words,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS n_sentences,
        |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, lang, CAST(n_words AS INT) AS n_words,
        |  CAST(n_sentences AS INT) AS n_sentences,
        |  CAST(n_syllables AS INT) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
        |FROM x ORDER BY doc_id LIMIT 2000""".stripMargin,
  )

  val round10: Map[String, String] = Map(
    // Events.e32TouchComparison: first/last/linear attribution over the
    // same 24 h journeys — row_number picks under exact (µs, event_id)
    // order; linear is one half-up micro division per (purchase,
    // channel) summed as BIGINTs; linear is the base relation (a
    // channel can carry credit without ever being first/last).
    "e32_touch_comparison" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM ev
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS t_id, event_type AS channel,
        |    us AS t_us FROM ev WHERE event_type != 'purchase'),
        |j AS (SELECT p.p_id, t.channel, t.t_id, t.t_us
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.t_us < p.p_us AND t.t_us >= p.p_us - 86400000000),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY p_id ORDER BY t_us, t_id)
        |      AS rn_f,
        |    row_number() OVER (PARTITION BY p_id
        |      ORDER BY t_us DESC, t_id DESC) AS rn_l
        |  FROM j),
        |ends AS (SELECT channel,
        |    CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_first,
        |    CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_last
        |  FROM r WHERE rn_f = 1 OR rn_l = 1 GROUP BY 1),
        |nt AS (SELECT p_id, count(*) AS n_touches FROM j GROUP BY 1),
        |m AS (SELECT p_id, channel, count(*) AS m FROM j GROUP BY 1, 2),
        |lin AS (SELECT m.channel,
        |    CAST(sum((m.m * 1000000 + nt.n_touches // 2) // nt.n_touches)
        |      AS BIGINT) AS linear_micro
        |  FROM m JOIN nt ON m.p_id = nt.p_id GROUP BY 1)
        |SELECT lin.channel, coalesce(ends.n_first, 0) AS n_first,
        |  coalesce(ends.n_last, 0) AS n_last, lin.linear_micro,
        |  round(CAST(lin.linear_micro AS DOUBLE) / 1e6, 6) AS linear_credit
        |FROM lin LEFT JOIN ends ON lin.channel = ends.channel
        |ORDER BY lin.channel""".stripMargin,

    // TextDedup.t30LangConfusion: the t3 vote pipeline rolled up to the
    // declared × predicted matrix; row share by half-up micro division
    // against the declared language's total.
    "t30_lang_confusion" ->
      """WITH x AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |v AS (SELECT doc_id, lang,
        |  len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS v_en,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS v_de,
        |  len(list_filter(toks, t -> list_contains(['el','la','de','y','es'], t))) AS v_es,
        |  len(list_filter(toks, t -> list_contains(['le','la','de','et','est'], t))) AS v_fr
        |  FROM x),
        |p AS (SELECT lang,
        |  CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr THEN 'en'
        |       WHEN v_de >= v_es AND v_de >= v_fr THEN 'de'
        |       WHEN v_es >= v_fr THEN 'es'
        |       ELSE 'fr' END AS predicted
        |  FROM v),
        |c AS (SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS n_lang FROM c)
        |SELECT lang, predicted, n,
        |  CAST((n * 1000000 + n_lang // 2) // n_lang AS BIGINT)
        |    AS share_micro,
        |  round(CAST((n * 1000000 + n_lang // 2) // n_lang AS DOUBLE)
        |    / 1e6, 6) AS share
        |FROM w ORDER BY lang, predicted""".stripMargin,

    // TextDedup.p28QuotaFrontier: p15's quota-independent prefix-sum
    // frame aggregated once per candidate quota (VALUES sweep); mean
    // quality by one half-up micro division per quota row.
    "p28_quota_frontier" ->
      """WITH x AS (SELECT doc_id, source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to'], t))) AS DOUBLE) / len(toks) AS stop_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> length(t) >= 4)) AS DOUBLE) / len(toks) AS long_ratio
        |  FROM x),
        |q AS (SELECT doc_id, source, n_tokens,
        |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.3
        |      + ttr * 0.3 + stop_ratio * 0.2 + long_ratio * 0.2, 6) AS quality
        |  FROM r),
        |c AS (SELECT source, doc_id, quality, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM q)
        |SELECT CAST(qv.quota AS BIGINT) AS quota,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(c.n_tokens) AS BIGINT) AS n_tokens_kept,
        |  round(CAST((sum(CAST(round(c.quality * 1000000) AS BIGINT))
        |    + count(*) // 2) // count(*) AS DOUBLE) / 1e6, 6)
        |    AS mean_quality
        |FROM c, (VALUES (250), (500), (1000)) AS qv(quota)
        |WHERE c.cum_before < qv.quota
        |GROUP BY qv.quota ORDER BY qv.quota""".stripMargin,

    // Embeddings.s25CellOccupancy: per-label population, raw pair work
    // n(n−1)/2, HUGEINT-promoted half-up work share, and the cap-32
    // sub-split's cell count + residual pair work (cell = vec_id mod
    // ceil(n/32), s2b's exact arithmetic).
    "s25_cell_occupancy" ->
      """WITH c AS (SELECT label, count(*) AS n_vecs FROM embeddings
        |  GROUP BY 1),
        |tw AS (SELECT CAST(sum(n_vecs * (n_vecs - 1) // 2) AS HUGEINT)
        |    AS total_work FROM c),
        |sub AS (SELECT e.label,
        |    ((e.vec_id % ((c.n_vecs + 31) // 32))
        |      + ((c.n_vecs + 31) // 32)) % ((c.n_vecs + 31) // 32) AS cell
        |  FROM embeddings e JOIN c ON e.label = c.label),
        |sc AS (SELECT label, cell, count(*) AS nc FROM sub GROUP BY 1, 2),
        |cap AS (SELECT label, CAST(count(*) AS BIGINT) AS capped_cells,
        |    CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS capped_pair_work
        |  FROM sc GROUP BY 1)
        |SELECT c.label, CAST(c.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(c.n_vecs * (c.n_vecs - 1) // 2 AS BIGINT) AS pair_work,
        |  CAST((CAST(c.n_vecs * (c.n_vecs - 1) // 2 AS HUGEINT) * 1000000
        |    + tw.total_work // 2) // tw.total_work AS BIGINT)
        |    AS work_share_micro,
        |  cap.capped_cells, cap.capped_pair_work
        |FROM c JOIN cap ON c.label = cap.label, tw
        |ORDER BY c.label""".stripMargin,
  )

  /** Round-11 session operators: d30 winnowing, p29 temperature mix,
    * s27 int8 recall, m16 luminance histogram, v13 Nelson–Aalen CI.
    */
  val round12: Map[String, String] = Map(
    // TextDedup.d30Winnowing (r13 contract): robust winnowing in the
    // WIDE 36-bit, WinnowSweepCap-capped space — wfpc from
    // winnowPairCte, the same selection + rank cap as the
    // winnowSelectionAsset every at-scale consumer shares (the r12
    // verdict re-gated d30 off the saturating 16-bit space). Positions
    // are 1-based here vs 0-based in Spark — only their relative order
    // matters to the min; both sides clamp at the field boundary.
    "d30_winnowing" ->
      s"""WITH $shingleCte,
        |$winnowPairCte,
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS n_shared
        |  FROM wfpc a JOIN wfpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared FROM pr
        |WHERE n_shared >= 2 ORDER BY id_a, id_b LIMIT 2000""".stripMargin,

    // TextDedup.p29TemperatureMix: w_s ∝ n_s^τ via exp(τ·ln n) with ln
    // and exp outputs micro-snapped per distinct value BEFORE the
    // normalizer sums them (t12/p23 libm discipline); share is one
    // half-up micro division per row.
    "p29_temperature_mix" ->
      """WITH bysrc AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |l AS (SELECT *, CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS ln_micro FROM bysrc),
        |t AS (SELECT l.*, tau_micro FROM l,
        |  (VALUES (300000), (700000), (1000000)) AS tv(tau_micro)),
        |wv AS (SELECT *, CAST(round(exp(
        |    CAST(tau_micro * ln_micro AS DOUBLE) / 1e12) * 1e6)
        |    AS BIGINT) AS w_micro FROM t),
        |z AS (SELECT tau_micro, CAST(sum(w_micro) AS BIGINT) AS z_micro
        |  FROM wv GROUP BY 1)
        |SELECT round(CAST(wv.tau_micro AS DOUBLE) / 1e6, 1) AS tau,
        |  wv.source, CAST(wv.n_docs AS BIGINT) AS n_docs, wv.n_tokens,
        |  round(CAST((w_micro * 1000000 + z_micro // 2) // z_micro
        |    AS DOUBLE) / 1e6, 6) AS share
        |FROM wv JOIN z ON wv.tau_micro = z.tau_micro
        |ORDER BY tau, wv.source""".stripMargin,

    // Embeddings.s27Int8Recall: symmetric per-dim int8 quantization
    // (sign-split half-up integral division against the integer per-dim
    // max), exact vs quantized top-1 MIPS — every comparison is over
    // exact BIGINTs with a vec_id tie-break; no float leaves the
    // micro-snap.
    "s27_int8_recall" ->
      """WITH em AS (SELECT vec_id, list_transform(embedding,
        |    v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS em
        |  FROM embeddings),
        |dd AS (SELECT unnest(range(1, 65)) AS d),
        |sc AS (SELECT d, max(abs(em[d])) AS s FROM em, dd GROUP BY d),
        |scl AS (SELECT list(s ORDER BY d) AS scales FROM sc),
        |qz AS (SELECT vec_id, em, list_transform(range(1, 65), i ->
        |    CASE WHEN scales[i] = 0 THEN 0
        |         WHEN em[i] >= 0
        |           THEN (em[i] * 127 + scales[i] // 2) // scales[i]
        |         ELSE -(((-em[i]) * 127 + scales[i] // 2) // scales[i])
        |    END) AS qv
        |  FROM em, scl),
        |q AS (SELECT vec_id AS q_id, em AS q_em, qv AS q_qv FROM qz
        |  WHERE ((vec_id % 100) + 100) % 100 = 0),
        |dots AS (SELECT q_id, v.vec_id,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> q_em[i] * v.em[i]), (s, x) -> s + x) AS dot_e,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> q_qv[i] * v.qv[i]), (s, x) -> s + x) AS dot_q
        |  FROM q, qz v WHERE v.vec_id != q_id),
        |rk AS (SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot_e DESC, vec_id) AS rk_e,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot_q DESC, vec_id) AS rk_q
        |  FROM dots)
        |SELECT q_id,
        |  max(CASE WHEN rk_e = 1 THEN vec_id END) AS exact_nn,
        |  max(CASE WHEN rk_q = 1 THEN vec_id END) AS quant_nn,
        |  max(CASE WHEN rk_e = 1 THEN vec_id END)
        |    = max(CASE WHEN rk_q = 1 THEN vec_id END) AS agree
        |FROM rk WHERE rk_e = 1 OR rk_q = 1
        |GROUP BY q_id ORDER BY q_id""".stripMargin,

    // Multimodal.m16LumHistogram: the m12 pixel replay binned to the
    // 16-bucket exposure histogram — lum·16 div 255001 keeps pure white
    // in bin 15; share is one half-up micro division per row.
    "m16_lum_histogram" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
        |         ELSE 'image/png' END AS media_type,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |px AS (SELECT p.media_type,
        |    ((p.doc_id % 16777216) * 31 + y.i * p.w + x.i) % 16777216 AS v
        |  FROM p, range(0, 64) x(i), range(0, 48) y(i)
        |  WHERE x.i < p.w AND y.i < p.h),
        |lb AS (SELECT media_type,
        |    299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)
        |      AS lum FROM px),
        |b AS (SELECT media_type, (lum * 16) // 255001 AS bin,
        |    count(*) AS n_px FROM lb GROUP BY 1, 2),
        |t AS (SELECT media_type, CAST(sum(n_px) AS BIGINT) AS n_type
        |  FROM b GROUP BY 1)
        |SELECT b.media_type, CAST(bin AS BIGINT) AS bin,
        |  CAST(n_px AS BIGINT) AS n_px,
        |  round(CAST((n_px * 1000000 + n_type // 2) // n_type
        |    AS DOUBLE) / 1e6, 6) AS share
        |FROM b JOIN t ON b.media_type = t.media_type
        |ORDER BY b.media_type, bin""".stripMargin,

    // Events.e33HourUniformity: χ² against uniform over the 24-bin hour
    // histogram — Σ(24·O−n)²/(24n) as one half-up micro division of two
    // exact integers (HUGEINT-promoted squares), verdict vs the literal
    // χ²₀.₉₉₉(23) critical value in micro units.
    "e33_hour_uniformity" ->
      """WITH o AS (SELECT event_type,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS h,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |frame AS (SELECT DISTINCT event_type, hh.h
        |  FROM o, (SELECT unnest(range(0, 24)) AS h) hh),
        |full_h AS (SELECT f.event_type, f.h, coalesce(o.o, 0) AS o
        |  FROM frame f LEFT JOIN o ON f.event_type = o.event_type
        |    AND f.h = o.h),
        |n AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n_events
        |  FROM full_h GROUP BY 1),
        |s AS (SELECT full_h.event_type, n.n_events,
        |    sum(CAST((o * 24 - n_events) AS HUGEINT)
        |      * CAST((o * 24 - n_events) AS HUGEINT)) AS ss
        |  FROM full_h JOIN n ON full_h.event_type = n.event_type
        |  GROUP BY 1, 2),
        |c AS (SELECT event_type, n_events,
        |    CAST((ss * 1000000 + (CAST(n_events AS HUGEINT) * 24) // 2)
        |      // (CAST(n_events AS HUGEINT) * 24) AS BIGINT) AS chi2_micro
        |  FROM s)
        |SELECT event_type, n_events,
        |  round(CAST(chi2_micro AS DOUBLE) / 1e6, 6) AS chi2,
        |  (chi2_micro >= 49728000) AS non_uniform
        |FROM c ORDER BY event_type""".stripMargin,

    // TextDedup.p30ContextPacking: next-fit packing into 512-token
    // windows, folded per (source, doc_id div 8192) shard in doc_id
    // order — the recursive CTE replays the same deterministic fold the
    // Spark mapGroups runs, one row per step per shard.
    "p30_context_packing" ->
      """WITH RECURSIVE d AS (SELECT source, doc_id // 8192 AS shard,
        |    least(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT), 512) AS t,
        |    (len(string_split_regex(trim(lower(text)), '\s+')) > 512)
        |      AS tr,
        |    row_number() OVER (PARTITION BY source, doc_id // 8192
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT source, shard, rn, t AS fill, CAST(1 AS BIGINT) AS bin
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.shard, d.rn,
        |    CASE WHEN p.fill + d.t <= 512 THEN p.fill + d.t ELSE d.t END,
        |    CASE WHEN p.fill + d.t <= 512 THEN p.bin ELSE p.bin + 1 END
        |  FROM pack p JOIN d ON d.source = p.source AND d.shard = p.shard
        |    AND d.rn = p.rn + 1),
        |sh AS (SELECT source, shard, max(bin) AS bins FROM pack
        |  GROUP BY 1, 2),
        |agg AS (SELECT d.source, count(*) AS n_docs,
        |    CAST(sum(t) AS BIGINT) AS n_tokens_packed,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_truncated
        |  FROM d GROUP BY 1),
        |w AS (SELECT source, CAST(sum(bins) AS BIGINT) AS n_windows
        |  FROM sh GROUP BY 1)
        |SELECT agg.source, CAST(n_docs AS BIGINT) AS n_docs, n_windows,
        |  n_tokens_packed, n_truncated,
        |  round(CAST((n_tokens_packed * 1000000 + (n_windows * 512) // 2)
        |    // (n_windows * 512) AS DOUBLE) / 1e6, 6) AS fill
        |FROM agg JOIN w ON agg.source = w.source
        |ORDER BY agg.source""".stripMargin,

    // Survival.v13NelsonAalenCi: v3's risk frame with the Klein variance
    // Σ d(n−d)/n³ in pico units and the linear 95 % band — the only
    // floats are presentation divisions plus one IEEE sqrt of the same
    // exact integer, in the same expression order as Spark.
    "v13_nelson_aalen_ci" ->
      """WITH s AS (SELECT c_mktsegment AS seg,
        |    (c_custkey % 2 = 0) AS event,
        |    CAST(c_custkey % 97 AS BIGINT) AS time
        |  FROM customer WHERE c_custkey <= 2000),
        |bt AS (SELECT seg, time,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS m
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(m) AS BIGINT) AS n_seg
        |        FROM bt GROUP BY 1),
        |r AS (SELECT bt.seg, bt.time, bt.d,
        |    n_seg - coalesce(sum(m) OVER (PARTITION BY bt.seg
        |      ORDER BY bt.time
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM bt JOIN tot ON bt.seg = tot.seg),
        |h AS (SELECT seg, time, d, CAST(n_risk AS BIGINT) AS n_risk,
        |    CAST((d * 1000000 + n_risk // 2) // n_risk AS BIGINT) AS h_micro,
        |    CAST((d * (n_risk - d) * 1000000000000
        |        + (n_risk * n_risk * n_risk) // 2)
        |      // (n_risk * n_risk * n_risk) AS BIGINT) AS v_pico
        |  FROM r),
        |c AS (SELECT *,
        |    CAST(sum(h_micro) OVER win AS BIGINT) AS cum_h_micro,
        |    CAST(sum(v_pico) OVER win AS BIGINT) AS cum_v_pico
        |  FROM h WINDOW win AS (PARTITION BY seg ORDER BY time
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT seg, time, d, n_risk,
        |  round(CAST(cum_h_micro AS DOUBLE) / 1e6, 6) AS cum_hazard,
        |  round(CAST(cum_v_pico AS DOUBLE) / 1e12, 6) AS var_hazard,
        |  round(CAST(cum_h_micro AS DOUBLE) / 1e6
        |    - 1.96 * (sqrt(CAST(cum_v_pico AS DOUBLE)) / 1e6), 6) AS ci_lo,
        |  round(CAST(cum_h_micro AS DOUBLE) / 1e6
        |    + 1.96 * (sqrt(CAST(cum_v_pico AS DOUBLE)) / 1e6), 6) AS ci_hi
        |FROM c WHERE d > 0 ORDER BY seg, time""".stripMargin,
  )

  /** The s11/s20 PQ pipeline prefix (codebook derivation + code
    * assignment) as a reusable CTE block — s29 audits the codes table
    * those oracles already derive; sharing the text keeps the
    * arithmetic from forking.
    */
  private def pqCodeCtes: String = {
    val centAvg =
      Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
    def sliceDot(emb: String, sub: String) = dotSql(
      s"list_slice($emb, 1 + 16 * $sub, 16 + 16 * $sub)", "codeword")
    s"""cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
       |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
       |cwv AS (SELECT label, CAST((dim - 1) // 16 AS INT) AS sub,
       |    list(m ORDER BY dim) AS codeword
       |  FROM cd GROUP BY 1, 2),
       |cb AS (SELECT label, sub, codeword,
       |    ${dotSql("codeword", "codeword")} AS cnorm2 FROM cwv),
       |asg AS (SELECT e.vec_id, c.sub, c.label,
       |    round(c.cnorm2 - 2 * ${sliceDot("e.embedding", "c.sub")}, 6) AS dist
       |  FROM embeddings e, cb c),
       |codes AS (SELECT vec_id, sub, label AS code FROM (
       |    SELECT vec_id, sub, label, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY dist, label) AS rk
       |    FROM asg) WHERE rk = 1)""".stripMargin
  }

  /** The m6 phash derivation (generator arithmetic → 64-bit strings)
    * as a reusable CTE block for m18's bit audit — same sharing
    * rationale as [[pqCodeCtes]].
    */
  private def phashBitsCtes: String =
    """p AS (SELECT doc_id,
      |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
      |    CAST(1 + doc_id % 48 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 3 IN (0, 1)),
      |g AS (SELECT p.doc_id, i.i AS i, j.i AS j,
      |    ((p.doc_id % 16777216) * 31
      |      + (j.i * p.h // 8) * p.w + (i.i * p.w // 8)) % 16777216 AS v
      |  FROM p, range(0, 8) i(i), range(0, 8) j(i)),
      |l AS (SELECT doc_id, i, j,
      |    299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256) AS lum
      |  FROM g),
      |s AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total
      |  FROM l GROUP BY 1),
      |bits AS (SELECT l.doc_id,
      |    string_agg(CASE WHEN 64 * l.lum > s.total THEN '1' ELSE '0' END,
      |      '' ORDER BY l.j, l.i) AS phash
      |  FROM l JOIN s USING (doc_id) GROUP BY 1)""".stripMargin

  val round14: Map[String, String] = Map(
    // TextDedup.d31CrossLangPairs: the d8 oracle's ≥ 0.8 Jaccard pair
    // derivation verbatim, rolled up by unordered language pair with
    // one half-up share division (lexicographic least/greatest on both
    // engines).
    "d31_cross_lang_pairs" ->
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS shared
        |  FROM sidx a JOIN sidx b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |np AS (SELECT id_a, id_b
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |             JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6)
        |    >= 0.8),
        |lp AS (SELECT least(da.lang, db.lang) AS lang_lo,
        |    greatest(da.lang, db.lang) AS lang_hi
        |  FROM np JOIN documents da ON np.id_a = da.doc_id
        |          JOIN documents db ON np.id_b = db.doc_id),
        |tot AS (SELECT count(*) AS n_all FROM lp)
        |SELECT lang_lo, lang_hi, (lang_lo != lang_hi) AS cross_lang,
        |  count(*) AS n_pairs,
        |  round(CAST((CAST(count(*) AS HUGEINT) * 1000000 + tot.n_all // 2)
        |    // tot.n_all AS BIGINT) / 1e6, 6) AS pair_share
        |FROM lp, tot GROUP BY lang_lo, lang_hi, tot.n_all
        |ORDER BY lang_lo, lang_hi""".stripMargin,

    // TextDedup.p32DedupEpochs: the d8 component closure (componentCte,
    // min-id keepers) composed with p31's driver-injected multipliers —
    // same VALUES literals, HUGEINT arithmetic, half-up divisions.
    "p32_dedup_epochs" -> {
      val vals = graft.queries.TextDedup.p31EffMicro
        .map { case (r, f) => s"($r, $f)" }.mkString(", ")
      s"""WITH RECURSIVE $shingleCte,
        |$componentCte,
        |dt AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
        |      AS BIGINT) AS n
        |  FROM documents),
        |fl AS (SELECT dt.source, dt.n,
        |    (comp.doc_id = comp.component) AS kp
        |  FROM dt JOIN comp ON dt.doc_id = comp.doc_id),
        |u AS (SELECT source, CAST(sum(n) AS BIGINT) AS u_raw,
        |    CAST(sum(CASE WHEN kp THEN n ELSE 0 END) AS BIGINT) AS u_unique
        |  FROM fl GROUP BY 1),
        |f AS (SELECT * FROM (VALUES $vals) t(r_epochs, f_micro)),
        |x AS (SELECT u.source, CAST(f.r_epochs AS BIGINT) AS r_epochs,
        |    u.u_raw, u.u_unique,
        |    CAST(u.u_raw * f.r_epochs AS BIGINT) AS budget_tokens,
        |    CAST((CAST(u.u_unique AS HUGEINT) * f.f_micro + 500000)
        |      // 1000000 AS BIGINT) AS eff_tokens
        |  FROM u, f)
        |SELECT source, r_epochs, u_raw, u_unique, budget_tokens, eff_tokens,
        |  round(CAST((CAST(eff_tokens AS HUGEINT) * 1000000
        |      + budget_tokens // 2)
        |    // budget_tokens AS BIGINT) / 1e6, 6) AS eff_vs_raw
        |FROM x ORDER BY source, r_epochs""".stripMargin
    },

    // TextDedup.d32ShingleDfProfile: same sidx derivation, the SAME
    // generated CASE ladder for the power-of-two bucket (pow2CaseSql —
    // no log2 crosses an engine), HUGEINT df(df−1) from the first
    // multiply, and one half-up share division per bucket.
    "d32_shingle_df_profile" ->
      s"""WITH $shingleCte,
        |dfreq AS (SELECT shingle, count(*) AS df FROM sidx GROUP BY 1),
        |b AS (SELECT CAST(${graft.queries.TextDedup.pow2CaseSql("df")}
        |    AS BIGINT) AS bucket_lo, df FROM dfreq),
        |r AS (SELECT bucket_lo, count(*) AS n_shingles,
        |    CAST(sum(df) AS BIGINT) AS n_postings,
        |    CAST(sum(CAST(df AS HUGEINT) * (df - 1)) AS HUGEINT) AS pw2
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(pw2) AS HUGEINT) AS total_pw2 FROM r)
        |SELECT bucket_lo, n_shingles, n_postings,
        |  CAST(pw2 // 2 AS BIGINT) AS pair_work,
        |  round(CAST((pw2 * 1000000 + total_pw2 // 2) // total_pw2
        |    AS BIGINT) / 1e6, 6) AS pair_work_share
        |FROM r, tot ORDER BY bucket_lo""".stripMargin,

    // TextDedup.d9wContainmentWinnow: directional containment in the
    // capped winnow fingerprint space — wfpc from winnowPairCte (same
    // 36-bit selection + rank cap as the winnowPairs asset), sizes AND
    // intersections both over wfpc, the d9 round/threshold/order.
    "d9w_containment_winnow" ->
      s"""WITH $shingleCte,
        |$winnowPairCte,
        |wsizes AS (SELECT doc_id, count(*) AS n FROM wfpc GROUP BY 1),
        |wshared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS shared
        |  FROM wfpc a JOIN wfpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |wboth AS (SELECT id_a AS contained_id, id_b AS container_id, shared
        |    FROM wshared
        |  UNION ALL SELECT id_b, id_a, shared FROM wshared)
        |SELECT contained_id, container_id,
        |  round(CAST(shared AS DOUBLE) / sa.n, 6) AS containment
        |FROM wboth JOIN wsizes sa ON contained_id = sa.doc_id
        |WHERE round(CAST(shared AS DOUBLE) / sa.n, 6) >= 0.9
        |ORDER BY contained_id, container_id LIMIT 3000""".stripMargin,

    // TextDedup.d36BoilerShingles: the over-cap cut list — same sidx
    // derivation and valve expression as d6b/d9b (greatest(4,
    // count(*) // 125)), half-up per-mille share, BIGINT pair work,
    // top-100 on the total order (df DESC, shingle).
    "d36_boiler_shingles" ->
      s"""WITH $shingleCte,
        |dfreq AS (SELECT shingle, count(*) AS df FROM sidx GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents)
        |SELECT shingle, CAST(df AS BIGINT) AS df,
        |  CAST((df * 1000 + n // 2) // n AS BIGINT) AS df_share_pm,
        |  CAST(CAST(df AS HUGEINT) * (df - 1) // 2 AS BIGINT) AS pair_work
        |FROM dfreq CROSS JOIN nd
        |WHERE df > greatest(4, n // ${graft.queries.TextDedup.StopShingleDenom})
        |ORDER BY df DESC, shingle LIMIT 100""".stripMargin,

    // TextDedup.p33SourceLorenz: identical ascending (n_tokens, source)
    // rank, HUGEINT Gini algebra, half-up Lorenz shares; the global
    // window is |sources|-bounded on both engines.
    "p33_source_lorenz" ->
      """WITH u AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS INT)
        |      AS rank,
        |    CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM u),
        |g AS (SELECT count(*) AS n_src,
        |    CAST(sum(CAST(n_tokens AS HUGEINT)) AS HUGEINT) AS s_all,
        |    CAST(sum(CAST(rank AS HUGEINT) * n_tokens) AS HUGEINT) AS six
        |  FROM r),
        |gg AS (SELECT s_all,
        |    CAST(((six * 2 - (n_src + 1) * s_all) * 1000000
        |        + (n_src * s_all) // 2)
        |      // (n_src * s_all) AS BIGINT) AS gini_micro FROM g)
        |SELECT r.rank, r.source, r.n_tokens, r.cum_tokens,
        |  round(CAST((CAST(r.cum_tokens AS HUGEINT) * 1000000
        |      + gg.s_all // 2) // gg.s_all AS BIGINT) / 1e6, 6) AS lorenz,
        |  round(CAST(gg.gini_micro AS DOUBLE) / 1e6, 6) AS gini
        |FROM r, gg ORDER BY r.rank""".stripMargin,

    // TextDedup.d33WinnowSweep: the d30 hashed-shingle CTEs shared by
    // all three widths (the sweep-shares-one-pass discipline in SQL
    // form), the d8/d31 ≥0.8-Jaccard truth pairs, and per-w selection/
    // pair/hit counts with half-up micro divisions; a pair-free corpus
    // divides by zero into NULL on both engines.
    "d33_winnow_sweep" -> {
      // the sweep legs pair up in the WinnowSweepCap-capped posting
      // space (row_number by doc_id within a fingerprint — the m11
      // band-cap discipline); n_fps/index_frac stay uncapped
      val cap = graft.queries.TextDedup.WinnowSweepCap
      def wCtes(w: Int) =
        s"""win$w AS (SELECT doc_id,
           |    min(ek) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mk,
           |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS cnt
           |  FROM enc),
           |fp$w AS (SELECT DISTINCT doc_id, mk // 16777216 AS fp
           |  FROM win$w WHERE cnt = $w),
           |fpc$w AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
           |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
           |  FROM fp$w) WHERE rk <= $cap),
           |pr$w AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM fpc$w a JOIN fpc$w b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |row$w AS (SELECT CAST($w AS INT) AS w, p.n_postings,
           |    (SELECT CAST(count(*) AS BIGINT) FROM fp$w) AS n_fps,
           |    (SELECT CAST(count(*) AS BIGINT) FROM pr$w) AS n_pairs,
           |    (SELECT CAST(count(*) AS BIGINT) FROM pr$w x JOIN np t
           |       ON x.id_a = t.id_a AND x.id_b = t.id_b) AS n_hits
           |  FROM posts p)""".stripMargin
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sidx GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS shared
        |  FROM sidx a JOIN sidx b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |np AS (SELECT id_a, id_b
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |             JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6)
        |    >= 0.8),
        |tcnt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM np),
        |wsh0 AS (SELECT doc_id, unnest(range(1, len(toks)-1)) AS pos, toks
        |  FROM tok WHERE len(toks) >= 3),
        |wsh AS (SELECT doc_id, pos,
        |    ${hexToInt("substr(md5(toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2]), 1, 9)", 9)} AS h
        |  FROM wsh0),
        |enc AS (SELECT doc_id, pos,
        |    h * 16777216 + (16777215 - least(pos, 16777215)) AS ek FROM wsh),
        |posts AS (SELECT CAST(count(*) AS BIGINT) AS n_postings FROM enc),
        |${wCtes(2)},
        |${wCtes(4)},
        |${wCtes(8)}
        |SELECT r.w, r.n_postings, r.n_fps,
        |  round(CAST((CAST(r.n_fps AS HUGEINT) * 1000000
        |      + r.n_postings // 2) // r.n_postings AS BIGINT) / 1e6, 6)
        |    AS index_frac,
        |  r.n_pairs, t.n_true AS n_true_pairs, r.n_hits,
        |  round(CAST((CAST(r.n_hits AS HUGEINT) * 1000000 + t.n_true // 2)
        |    // t.n_true AS BIGINT) / 1e6, 6) AS recall
        |FROM (SELECT * FROM row2 UNION ALL SELECT * FROM row4
        |      UNION ALL SELECT * FROM row8) r, tcnt t
        |ORDER BY r.w""".stripMargin
    },

    // TextDedup.d34IncrementalComponents: the oracle recomputes the
    // FULL-corpus closure from scratch (componentCte), so the hash
    // match proves the Spark side's ledger-merge path converges to the
    // identical min-id labeling — incremental ≡ batch.
    "d34_incremental_components" ->
      s"""WITH RECURSIVE $shingleCte,
        |$componentCte
        |SELECT doc_id, component, (doc_id % 5 = 0) AS is_increment
        |FROM comp ORDER BY doc_id""".stripMargin,

    // TextDedup.d34wIncrementalWinnow: the oracle recomputes the
    // one-shot closure over (standing pairs ∪ probe ∪ increment self)
    // from scratch; star-contraction algebra makes that identical to
    // the Spark side's ledger merge, so the hash match proves
    // incremental ≡ batch in the bounded winnow space. The per-doc
    // selections (wfp) are subset-invariant, so standing/increment
    // frames are plain filters; caps are replayed per the declared
    // contract (standing rank cap over standing lists, increment cap
    // over increment lists, probe = uncapped increment vs capped
    // standing).
    "d34w_incremental_winnow" -> {
      val cap = queries.TextDedup.WinnowSweepCap
      s"""WITH RECURSIVE $shingleCte,
        |$winnowSelCte,
        |sfp AS (SELECT doc_id, fp FROM wfp WHERE doc_id % 5 <> 0),
        |ifp AS (SELECT doc_id, fp FROM wfp WHERE doc_id % 5 = 0),
        |sfpc AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        |  FROM sfp) WHERE rk <= $cap),
        |ifpc AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        |  FROM ifp) WHERE rk <= $cap),
        |spairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sfpc a JOIN sfpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ipairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ifpc a JOIN ifpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |wprobe AS (SELECT i.doc_id AS id_a, s.doc_id AS id_b
        |  FROM ifp i JOIN sfpc s ON i.fp = s.fp
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |wedges AS (SELECT id_a AS src, id_b AS dst FROM spairs
        |  UNION SELECT id_b, id_a FROM spairs
        |  UNION SELECT id_a, id_b FROM ipairs
        |  UNION SELECT id_b, id_a FROM ipairs
        |  UNION SELECT id_a, id_b FROM wprobe
        |  UNION SELECT id_b, id_a FROM wprobe),
        |wreach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT wreach.id, wedges.dst
        |  FROM wreach JOIN wedges ON wreach.r = wedges.src),
        |wcomp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
        |  FROM wreach GROUP BY id)
        |SELECT doc_id, component, (doc_id % 5 = 0) AS is_increment
        |FROM wcomp ORDER BY doc_id""".stripMargin
    },

    // TextDedup.t33TokenLengthProfile: d32's generated CASE ladder on
    // token lengths, one half-up share division per (lang, bucket).
    "t33_token_length_profile" ->
      s"""WITH t0 AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |b AS (SELECT lang,
        |    CAST(${graft.queries.TextDedup.pow2CaseSql("length(token)")}
        |      AS BIGINT) AS bucket_lo
        |  FROM t0),
        |g AS (SELECT lang, bucket_lo, count(*) AS n_tokens
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n_lang
        |  FROM g GROUP BY 1)
        |SELECT g.lang, g.bucket_lo, g.n_tokens,
        |  round(CAST((CAST(g.n_tokens AS HUGEINT) * 1000000
        |      + t2.n_lang // 2) // t2.n_lang AS BIGINT) / 1e6, 6) AS share
        |FROM g JOIN tot t2 USING (lang)
        |ORDER BY g.lang, g.bucket_lo""".stripMargin,

    // TextDedup.t32SimpsonDiversity: identical token counts, HUGEINT
    // Σc(c−1) from the first multiply, and the same two half-up
    // integral divisions; divisor-0 cases (singleton corpora) are NULL
    // on both engines (Spark LEGACY div ≡ DuckDB //).
    "t32_simpson_diversity" ->
      """WITH tf AS (SELECT source, token, count(*) AS c FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab,
        |    CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS s
        |  FROM tf GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |  round(CAST((s * 1000000
        |      + (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) // 2)
        |    // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
        |    / 1e6, 6) AS simpson,
        |  round(CAST((CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 1000000
        |      + s // 2) // s AS BIGINT) / 1e6, 6) AS eff_vocab
        |FROM m ORDER BY source""".stripMargin,

    // Embeddings.s29CodeBalance: the codes CTE is the s11/s20 prefix
    // verbatim (pqCodeCtes); the audit itself is the e33 χ² algebra
    // over the full (label × sub) spine plus one top-share division
    // and an integer cross-multiplied verdict.
    "s29_code_balance" ->
      s"""WITH $pqCodeCtes,
        |spine AS (SELECT CAST(s.sub AS INT) AS sub, l.label AS code
        |  FROM (SELECT DISTINCT label FROM embeddings) l, range(0, 4) s(sub)),
        |cnt AS (SELECT sub, code, count(*) AS n FROM codes GROUP BY 1, 2),
        |f AS (SELECT sp.sub, sp.code, coalesce(c.n, 0) AS n
        |  FROM spine sp LEFT JOIN cnt c
        |    ON c.sub = sp.sub AND c.code = sp.code),
        |tot AS (SELECT sub, count(*) AS k, CAST(sum(n) AS BIGINT) AS n_vec
        |  FROM f GROUP BY 1),
        |ag AS (SELECT f.sub, t.k, t.n_vec,
        |    sum(CASE WHEN f.n > 0 THEN 1 ELSE 0 END) AS codes_used,
        |    CAST(sum((CAST(f.n AS HUGEINT) * t.k - t.n_vec)
        |        * (CAST(f.n AS HUGEINT) * t.k - t.n_vec)) AS HUGEINT) AS ss,
        |    max(f.n) AS top_n
        |  FROM f JOIN tot t USING (sub) GROUP BY 1, 2, 3)
        |SELECT sub, n_vec, CAST(k AS BIGINT) AS k,
        |  CAST(codes_used AS BIGINT) AS codes_used,
        |  round(CAST((ss * 1000000 + (CAST(n_vec AS HUGEINT) * k) // 2)
        |    // (CAST(n_vec AS HUGEINT) * k) AS BIGINT) / 1e6, 6) AS chi2,
        |  round(CAST((CAST(top_n AS HUGEINT) * 1000000 + n_vec // 2)
        |    // n_vec AS BIGINT) / 1e6, 6) AS top_share,
        |  (top_n * k <= n_vec * 2) AS balanced
        |FROM ag ORDER BY sub""".stripMargin,

    // Embeddings.s30PqDistortion: the s11 assignment CTEs verbatim
    // (pqCodeCtes — asg already carries the (‖c‖² − 2x·c) term at the
    // shared 6-decimal snap), plus the per-subspace self-dot through
    // the same sequential double fold; micro distortions aggregate as
    // HUGEINTs with one half-up mean per subspace.
    "s30_pq_distortion" -> {
      val sl = "list_slice(e.embedding, 1 + 16 * s.sub, 16 + 16 * s.sub)"
      s"""WITH $pqCodeCtes,
        |xx AS (SELECT e.vec_id, CAST(s.sub AS INT) AS sub,
        |    round(${dotSql(sl, sl)}, 6) AS xx
        |  FROM embeddings e, range(0, 4) s(sub)),
        |dmin AS (SELECT vec_id, sub, dist FROM (
        |    SELECT vec_id, sub, dist, row_number() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist, label) AS rk
        |    FROM asg) WHERE rk = 1),
        |m AS (SELECT d.sub,
        |    CAST(round((d.dist + x.xx) * 1e6) AS BIGINT) AS d_micro
        |  FROM dmin d JOIN xx x ON d.vec_id = x.vec_id AND d.sub = x.sub),
        |ag AS (SELECT sub, count(*) AS n,
        |    CAST(sum(CAST(d_micro AS HUGEINT)) AS HUGEINT) AS sum_d,
        |    max(d_micro) AS max_micro
        |  FROM m GROUP BY 1)
        |SELECT sub, n,
        |  round(CAST((sum_d + n // 2) // n AS BIGINT) / 1e6, 6)
        |    AS mean_distortion,
        |  round(CAST(max_micro AS DOUBLE) / 1e6, 6) AS max_distortion
        |FROM ag ORDER BY sub""".stripMargin
    },

    // Survival.v14WeibullFit: composes the gated v3 SQL verbatim as a
    // CTE (the s8/m7 discipline), snaps both lns with the shared
    // expressions, and reuses the t24 OLS closed forms.
    "v14_weibull_fit" ->
      s"""WITH v3 AS (${survival("v3_cum_hazard")}),
        |xy AS (SELECT seg,
        |    CAST(round(ln(CAST(time AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(cum_h_micro AS DOUBLE) / 1e6) * 1e6)
        |      AS BIGINT) AS y
        |  FROM v3 WHERE time > 0),
        |m AS (SELECT seg, count(*) AS n_fit,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT seg, n_fit,
        |  CAST(((n_fit * sxy - sx * sy) * 1000000
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS shape,
        |  CAST((sxx * sy - sx * sxy
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS ln_h_intercept
        |FROM m ORDER BY seg""".stripMargin,

    // Multimodal.m18PhashBitBalance: the phash strings come from the
    // m6 generator-arithmetic CTEs verbatim (phashBitsCtes — the Spark
    // side reads the REAL-decode asset, the m1 discipline); the audit
    // is one half-up share division and an integer band check.
    "m18_phash_bit_balance" ->
      s"""WITH $phashBitsCtes,
        |b AS (SELECT CAST(t.i AS INT) AS bit,
        |    CASE WHEN substr(bits.phash, CAST(t.i + 1 AS INT), 1) = '1'
        |      THEN 1 ELSE 0 END AS bset
        |  FROM bits, range(0, 64) t(i)),
        |ag AS (SELECT bit, count(*) AS n,
        |    CAST(sum(bset) AS BIGINT) AS n_set
        |  FROM b GROUP BY 1)
        |SELECT bit, n, n_set,
        |  round(CAST((CAST(n_set AS HUGEINT) * 1000000 + n // 2)
        |    // n AS BIGINT) / 1e6, 6) AS share,
        |  ((CAST(n_set AS HUGEINT) * 1000000 + n // 2) // n < 200000
        |    OR (CAST(n_set AS HUGEINT) * 1000000 + n // 2) // n > 800000)
        |    AS degenerate
        |FROM ag ORDER BY bit""".stripMargin,
    // TextDedup.t31HeapsLaw: identical per-doc token/new-type counts,
    // window prefix sums in doc_id order (DuckDB has no single-task
    // hazard at oracle scale; Spark runs the two-phase distributed
    // prefix sum), the same micro-nat ln snap per checkpoint, HUGEINT
    // OLS moments, and t24's closed-form half-up integral divisions.
    "t31_heaps_law" ->
      """WITH tok AS (SELECT source, doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |dt AS (SELECT source, doc_id, count(*) AS n_toks
        |  FROM tok GROUP BY 1, 2),
        |fo AS (SELECT source, token, min(doc_id) AS doc_id
        |  FROM tok GROUP BY 1, 2),
        |nv AS (SELECT source, doc_id, count(*) AS n_new
        |  FROM fo GROUP BY 1, 2),
        |fr AS (SELECT d.source, d.doc_id, d.n_toks,
        |    coalesce(v.n_new, 0) AS n_new
        |  FROM dt d LEFT JOIN nv v USING (source, doc_id)),
        |cum AS (SELECT source,
        |    CAST(sum(n_toks) OVER w AS BIGINT) AS cum_toks,
        |    CAST(sum(n_new) OVER w AS BIGINT) AS cum_vocab
        |  FROM fr WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING)),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(cum_toks AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM cum WHERE cum_toks > 0 AND cum_vocab > 0),
        |m AS (SELECT source, count(*) AS n_fit,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT source, n_fit,
        |  CAST(((n_fit * sxy - sx * sy) * 1000000
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS beta,
        |  CAST((sxx * sy - sx * sxy
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS ln_k
        |FROM m ORDER BY source""".stripMargin,

    // TextDedup.p31RepeatSchedule: the effective-epoch multipliers are
    // the SAME driver-computed micro literals injected into both plans
    // (p31EffMicro) — libm's exp runs once, driver-side; everything
    // downstream is HUGEINT arithmetic with half-up divisions.
    "p31_repeat_schedule" -> {
      val vals = graft.queries.TextDedup.p31EffMicro
        .map { case (r, f) => s"($r, $f)" }.mkString(", ")
      s"""WITH u AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+')))
        |      AS BIGINT) AS u_tokens
        |  FROM documents GROUP BY 1),
        |f AS (SELECT * FROM (VALUES $vals) t(r_epochs, f_micro)),
        |x AS (SELECT u.source, CAST(f.r_epochs AS BIGINT) AS r_epochs,
        |    u.u_tokens,
        |    CAST(u.u_tokens * f.r_epochs AS BIGINT) AS budget_tokens,
        |    CAST((CAST(u.u_tokens AS HUGEINT) * f.f_micro + 500000)
        |      // 1000000 AS BIGINT) AS eff_tokens
        |  FROM u, f)
        |SELECT source, r_epochs, u_tokens, budget_tokens, eff_tokens,
        |  CAST((CAST(eff_tokens AS HUGEINT) * 1000000 + budget_tokens // 2)
        |    // budget_tokens AS BIGINT) / 1e6 AS eff_ratio
        |FROM x ORDER BY source, r_epochs""".stripMargin
    },

    // Events.e34DiurnalAutocorr: identical epoch-hour floor division,
    // global spine with absent hours as 0, lead-24 pairing, exact
    // HUGEINT correlation moments, and the v13-style single float
    // crossing — the same num/(√denx·√deny) expression over the same
    // exact integers, snapped to micro.
    "e34_diurnal_autocorr" ->
      """WITH c AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
        |spine AS (SELECT t.event_type, s.h
        |  FROM (SELECT DISTINCT event_type FROM c) t,
        |    (SELECT unnest(range(h0, h1 + 1)) AS h FROM span) s),
        |f AS (SELECT sp.event_type, sp.h, coalesce(c.c, 0) AS x
        |  FROM spine sp LEFT JOIN c
        |    ON c.event_type = sp.event_type AND c.h = sp.h),
        |pr AS (SELECT event_type, x,
        |    lead(x, 24) OVER (PARTITION BY event_type ORDER BY h) AS y
        |  FROM f),
        |m AS (SELECT event_type, count(*) AS n_pairs,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM pr WHERE y IS NOT NULL GROUP BY 1),
        |r AS (SELECT event_type, n_pairs,
        |    (n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0)
        |      AS defined,
        |    CASE WHEN n_pairs * sxx - sx * sx > 0
        |        AND n_pairs * syy - sy * sy > 0
        |      THEN CAST(round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1e6
        |        / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |          * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))))
        |        AS BIGINT)
        |      ELSE 0 END AS r_micro
        |  FROM m)
        |SELECT event_type, n_pairs, defined, r_micro,
        |  round(CAST(r_micro AS DOUBLE) / 1e6, 6) AS r24,
        |  (defined AND r_micro >= 300000) AS diurnal
        |FROM r ORDER BY event_type""".stripMargin,

    // Events.e35LagSweep: the e34 spine verbatim, four lead legs
    // UNION-ALL'd (one per lag), the same exact HUGEINT moments and
    // the same single float crossing per (type, lag) row.
    "e35_lag_sweep" -> {
      val legs = Seq(1, 12, 24, 168).map { l =>
        s"""SELECT event_type, CAST($l AS BIGINT) AS lag, x,
           |    lead(x, $l) OVER (PARTITION BY event_type ORDER BY h) AS y
           |  FROM f""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
        |spine AS (SELECT t.event_type, s.h
        |  FROM (SELECT DISTINCT event_type FROM c) t,
        |    (SELECT unnest(range(h0, h1 + 1)) AS h FROM span) s),
        |f AS (SELECT sp.event_type, sp.h, coalesce(c.c, 0) AS x
        |  FROM spine sp LEFT JOIN c
        |    ON c.event_type = sp.event_type AND c.h = sp.h),
        |pr AS ($legs),
        |m AS (SELECT event_type, lag, count(*) AS n_pairs,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM pr WHERE y IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, lag, n_pairs,
        |    (n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0)
        |      AS defined,
        |    CASE WHEN n_pairs * sxx - sx * sx > 0
        |        AND n_pairs * syy - sy * sy > 0
        |      THEN CAST(round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1e6
        |        / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |          * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))))
        |        AS BIGINT)
        |      ELSE 0 END AS r_micro
        |  FROM m)
        |SELECT event_type, lag, n_pairs, defined, r_micro,
        |  round(CAST(r_micro AS DOUBLE) / 1e6, 6) AS r
        |FROM r ORDER BY event_type, lag""".stripMargin
    },

    // Embeddings.s28Anisotropy: identical per-dim micro snap, HUGEINT
    // S_d/ΣΣv² moments, and ONE half-up integral division per label —
    // no sqrt, no float compare anywhere.
    "s28_anisotropy" ->
      """WITH m AS (SELECT label, CAST(i AS INT) AS dim,
        |    CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1e6)
        |      AS BIGINT) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |pd AS (SELECT label, dim, count(*) AS n,
        |    CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
        |  FROM m GROUP BY 1, 2),
        |ag AS (SELECT label, max(n) AS n, sum(s * s) AS s2,
        |    sum(ss) AS sumsq
        |  FROM pd GROUP BY 1)
        |SELECT label, CAST(n AS BIGINT) AS n,
        |  round(CAST((s2 * 1000000 + (n * sumsq) // 2)
        |    // (n * sumsq) AS BIGINT) / 1e6, 6) AS anisotropy
        |FROM ag ORDER BY label""".stripMargin,

    // Multimodal.m17AspectBuckets: the oracle predicts width/height
    // from the generator's doc_id arithmetic (the m1 discipline — the
    // Spark side re-derives them from the REAL ImageIO decode), and
    // the bucket CASE tests the same integer cross-multiplications in
    // the same order.
    "m17_aspect_buckets" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |         ELSE 'video/gif' END AS media_type,
        |    CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |    CAST(1 + doc_id % 48 AS BIGINT) AS h
        |  FROM documents),
        |b AS (SELECT media_type,
        |    CASE WHEN w > h * 4 OR h > w * 4 THEN 'extreme'
        |         WHEN w * 4 < h * 3 THEN 'portrait'
        |         WHEN w * 3 > h * 4 THEN 'landscape'
        |         ELSE 'square' END AS bucket,
        |    w * h AS px
        |  FROM d)
        |SELECT media_type, bucket, count(*) AS n,
        |  CAST(sum(px) AS BIGINT) AS total_px,
        |  round(CAST((CAST(sum(px) AS HUGEINT) * 1000000 + count(*) // 2)
        |    // count(*) AS BIGINT) / 1e6, 6) AS mean_px
        |FROM b GROUP BY 1, 2 ORDER BY media_type, bucket""".stripMargin,
  )

  val round15: Map[String, String] = Map(
    // TextDedup.d31bCrossLangWinnow: d31's rollup over the capped wide
    // winnow pair space (winnowPairCte mirrors the winnowPairs asset).
    "d31b_crosslang_winnow" ->
      s"""WITH $shingleCte,
        |$winnowPairCte,
        |lp AS (SELECT least(da.lang, db.lang) AS lang_lo,
        |    greatest(da.lang, db.lang) AS lang_hi
        |  FROM wpairs JOIN documents da ON wpairs.id_a = da.doc_id
        |          JOIN documents db ON wpairs.id_b = db.doc_id),
        |tot AS (SELECT count(*) AS n_all FROM lp)
        |SELECT lang_lo, lang_hi, (lang_lo != lang_hi) AS cross_lang,
        |  count(*) AS n_pairs,
        |  round(CAST((CAST(count(*) AS HUGEINT) * 1000000 + tot.n_all // 2)
        |    // tot.n_all AS BIGINT) / 1e6, 6) AS pair_share
        |FROM lp, tot GROUP BY lang_lo, lang_hi, tot.n_all
        |ORDER BY lang_lo, lang_hi""".stripMargin,

    // TextDedup.d32bWinnowDfProfile: the d32 ladder over the wide
    // winnow fingerprint df distribution (wfp from winnowPairCte).
    "d32b_winnow_df_profile" ->
      s"""WITH $shingleCte,
        |$winnowPairCte,
        |dfreq AS (SELECT fp, count(*) AS df FROM wfp GROUP BY 1),
        |b AS (SELECT CAST(${graft.queries.TextDedup.pow2CaseSql("df")}
        |    AS BIGINT) AS bucket_lo, df FROM dfreq),
        |r AS (SELECT bucket_lo, count(*) AS n_fps,
        |    CAST(sum(df) AS BIGINT) AS n_postings,
        |    CAST(sum(CAST(df AS HUGEINT) * (df - 1)) AS HUGEINT) AS pw2
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(pw2) AS HUGEINT) AS total_pw2 FROM r)
        |SELECT bucket_lo, n_fps, n_postings,
        |  CAST(pw2 // 2 AS BIGINT) AS pair_work,
        |  round(CAST((pw2 * 1000000 + total_pw2 // 2) // total_pw2
        |    AS BIGINT) / 1e6, 6) AS pair_work_share
        |FROM r, tot ORDER BY bucket_lo""".stripMargin,

    // TextDedup.p32bDedupEpochsWinnow: the p32 epoch table with keepers
    // from the transitive closure over the capped winnow pairs — the
    // oracle recomputes that closure from scratch, so the hash proves
    // the Spark star contraction over the SAME pair space converges to
    // identical min-id labels.
    "p32b_dedup_epochs_winnow" -> {
      val vals = graft.queries.TextDedup.p31EffMicro
        .map { case (r, f) => s"($r, $f)" }.mkString(", ")
      s"""WITH RECURSIVE $shingleCte,
        |$winnowPairCte,
        |wedges AS (SELECT id_a AS src, id_b AS dst FROM wpairs
        |           UNION SELECT id_b, id_a FROM wpairs),
        |wreach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT wreach.id, wedges.dst
        |  FROM wreach JOIN wedges ON wreach.r = wedges.src),
        |wcomp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
        |          FROM wreach GROUP BY id),
        |dt AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
        |      AS BIGINT) AS n
        |  FROM documents),
        |fl AS (SELECT dt.source, dt.n,
        |    (wcomp.doc_id = wcomp.component) AS kp
        |  FROM dt JOIN wcomp ON dt.doc_id = wcomp.doc_id),
        |u AS (SELECT source, CAST(sum(n) AS BIGINT) AS u_raw,
        |    CAST(sum(CASE WHEN kp THEN n ELSE 0 END) AS BIGINT) AS u_unique
        |  FROM fl GROUP BY 1),
        |f AS (SELECT * FROM (VALUES $vals) t(r_epochs, f_micro)),
        |x AS (SELECT u.source, CAST(f.r_epochs AS BIGINT) AS r_epochs,
        |    u.u_raw, u.u_unique,
        |    CAST(u.u_raw * f.r_epochs AS BIGINT) AS budget_tokens,
        |    CAST((CAST(u.u_unique AS HUGEINT) * f.f_micro + 500000)
        |      // 1000000 AS BIGINT) AS eff_tokens
        |  FROM u, f)
        |SELECT source, r_epochs, u_raw, u_unique, budget_tokens, eff_tokens,
        |  round(CAST((CAST(eff_tokens AS HUGEINT) * 1000000
        |      + budget_tokens // 2)
        |    // budget_tokens AS BIGINT) / 1e6, 6) AS eff_vs_raw
        |FROM x ORDER BY source, r_epochs""".stripMargin
    },
  )

  val round15b: Map[String, String] = Map(
    // Events.e36GapHistogram: e23's lag-derived gap facts (same
    // ordering, later event's type), d32's CASE ladder over whole
    // seconds, half-up shares per type.
    "e36_gap_histogram" ->
      s"""WITH x AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |gp AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS gap_us
        |  FROM x),
        |b AS (SELECT event_type,
        |    CAST(${graft.queries.TextDedup.pow2CaseSql("(gap_us // 1000000)")}
        |      AS BIGINT) AS bucket_lo
        |  FROM gp WHERE gap_us IS NOT NULL),
        |g AS (SELECT event_type, bucket_lo, count(*) AS n_gaps
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n_gaps) AS BIGINT) AS n_type
        |  FROM g GROUP BY 1)
        |SELECT g.event_type, g.bucket_lo, g.n_gaps,
        |  round(CAST((CAST(g.n_gaps AS HUGEINT) * 1000000 + t.n_type // 2)
        |    // t.n_type AS BIGINT) / 1e6, 6) AS share
        |FROM g JOIN t USING (event_type)
        |ORDER BY g.event_type, g.bucket_lo""".stripMargin,

    // TextDedup.d35ClusterSizeProfile: the d8 closure (componentCte),
    // component sizes through the CASE ladder, half-up doc shares.
    "d35_cluster_size_profile" ->
      s"""WITH RECURSIVE $shingleCte,
        |$componentCte,
        |cs AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1),
        |b AS (SELECT CAST(${graft.queries.TextDedup.pow2CaseSql("csize")}
        |    AS BIGINT) AS bucket_lo, csize FROM cs),
        |r AS (SELECT bucket_lo, count(*) AS n_clusters,
        |    CAST(sum(csize) AS BIGINT) AS n_docs
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all FROM r)
        |SELECT bucket_lo, n_clusters, n_docs,
        |  round(CAST((CAST(n_docs AS HUGEINT) * 1000000 + tot.n_all // 2)
        |    // tot.n_all AS BIGINT) / 1e6, 6) AS doc_share
        |FROM r, tot ORDER BY bucket_lo""".stripMargin,

    // TextDedup.t34ZipfFit: (freq DESC, token) rank over the vocabulary
    // aggregate, top-256, micro-snapped lns, t31's exact-OLS tail.
    "t34_zipf_fit" ->
      s"""WITH tk AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |fq AS (SELECT lang, token, count(*) AS f FROM tk GROUP BY 1, 2),
        |rk AS (SELECT lang, f,
        |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, token)
        |      AS rank
        |  FROM fq),
        |xy AS (SELECT lang,
        |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM rk WHERE rank <= ${graft.queries.TextDedup.ZipfTopK}),
        |m AS (SELECT lang, count(*) AS n_fit,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT lang, n_fit,
        |  CAST(((n_fit * sxy - sx * sy) * 1000000
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS zipf_slope,
        |  CAST((sxx * sy - sx * sxy
        |      + (n_fit * sxx - sx * sx) // 2)
        |    // (n_fit * sxx - sx * sx) AS BIGINT) / 1e6 AS ln_c
        |FROM m ORDER BY lang""".stripMargin,

    // Embeddings.s31NormProfile: per-row ‖x‖² snapped at 6 decimals
    // (the s21/s30 snap point) into micro integers; HUGEINT sums,
    // half-up mean, integer cross-multiplied outlier verdict.
    "s31_norm_profile" ->
      s"""WITH n AS (SELECT label,
        |    CAST(round(round(${dotSql("embedding", "embedding")}, 6)
        |      * 1000000) AS BIGINT) AS n2_micro
        |  FROM embeddings),
        |a AS (SELECT label, count(*) AS n_vecs,
        |    CAST(sum(CAST(n2_micro AS HUGEINT)) AS HUGEINT) AS sum_micro,
        |    min(n2_micro) AS min_micro, max(n2_micro) AS max_micro
        |  FROM n GROUP BY 1),
        |o AS (SELECT n.label, count(*) AS n_outliers
        |  FROM n JOIN a ON n.label = a.label
        |  WHERE CAST(n.n2_micro AS HUGEINT) * a.n_vecs > a.sum_micro * 2
        |  GROUP BY 1)
        |SELECT a.label, a.n_vecs,
        |  round(CAST((a.sum_micro + a.n_vecs // 2) // a.n_vecs AS BIGINT)
        |    / 1e6, 6) AS mean_norm2,
        |  round(CAST(a.min_micro AS DOUBLE) / 1e6, 6) AS min_norm2,
        |  round(CAST(a.max_micro AS DOUBLE) / 1e6, 6) AS max_norm2,
        |  CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
        |FROM a LEFT JOIN o ON a.label = o.label
        |ORDER BY a.label""".stripMargin,
  )

  val round15c: Map[String, String] = Map(
    // Embeddings.s32LabelMargin: the s7 exact-grid centroid CTEs,
    // member cosines snapped at 6 decimals into half-up micro means,
    // inter-centroid cosine over the same exact vectors, margin as
    // micro-integer subtraction.
    "s32_label_margin" -> {
      val centAvg =
        Oracles.exactAvg("CAST(embedding[CAST(i AS INT)] AS DOUBLE)", 6, 6)
      s"""WITH cd AS (SELECT label, CAST(i AS INT) AS dim, $centAvg AS m
        |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
        |         FROM cd GROUP BY label),
        |cn AS (SELECT label, centroid,
        |    sqrt(${dotSql("centroid", "centroid")}) AS nrm FROM cent),
        |wv AS (SELECT e.label,
        |    CAST(round(round(${dotSql("e.embedding", "c.centroid")} /
        |      (sqrt(${dotSql("e.embedding", "e.embedding")}) * c.nrm), 6)
        |      * 1000000) AS BIGINT) AS c_micro
        |  FROM embeddings e JOIN cn c ON e.label = c.label),
        |w AS (SELECT label,
        |    CAST((CAST(sum(CAST(c_micro AS HUGEINT)) AS HUGEINT)
        |      + count(*) // 2) // count(*) AS BIGINT) AS w_micro
        |  FROM wv GROUP BY 1),
        |pr AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(round(round(${dotSql("a.centroid", "b.centroid")} /
        |      (a.nrm * b.nrm), 6) * 1000000) AS BIGINT) AS inter_micro
        |  FROM cn a JOIN cn b ON a.label < b.label)
        |SELECT pr.label_a, pr.label_b,
        |  round(CAST(pr.inter_micro AS DOUBLE) / 1e6, 6) AS inter_cos,
        |  round(CAST(wa.w_micro AS DOUBLE) / 1e6, 6) AS within_a,
        |  round(CAST(wb.w_micro AS DOUBLE) / 1e6, 6) AS within_b,
        |  round(CAST(least(wa.w_micro, wb.w_micro) - pr.inter_micro
        |    AS DOUBLE) / 1e6, 6) AS margin
        |FROM pr JOIN w wa ON pr.label_a = wa.label
        |        JOIN w wb ON pr.label_b = wb.label
        |ORDER BY pr.label_a, pr.label_b""".stripMargin
    },

    // TextDedup.t35TermBurstiness: two-level agg (per-doc counts, then
    // cf/df), (cf DESC, token) rank over the vocabulary, half-up micro
    // burstiness.
    "t35_term_burstiness" ->
      s"""WITH occ AS (SELECT lang, doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |pd AS (SELECT lang, token, doc_id, count(*) AS n
        |  FROM occ GROUP BY 1, 2, 3),
        |v AS (SELECT lang, token, CAST(sum(n) AS BIGINT) AS cf,
        |    CAST(count(*) AS BIGINT) AS df
        |  FROM pd GROUP BY 1, 2),
        |r AS (SELECT lang, token, cf, df,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY cf DESC, token) AS INT) AS rank
        |  FROM v)
        |SELECT lang, rank, token, cf, df,
        |  round(CAST((CAST(cf AS HUGEINT) * 1000000 + df // 2) // df
        |    AS BIGINT) / 1e6, 6) AS burstiness
        |FROM r WHERE rank <= ${graft.queries.TextDedup.BurstTopK}
        |ORDER BY lang, rank""".stripMargin,

    // Events.e37ValueOutliers: quantile_cont medians rounded at 6 (the
    // e23 percentile parity), deviations snapped to micro BEFORE the
    // 3×MAD comparison so the verdict is an integer compare on both
    // engines, half-up outlier share.
    "e37_value_outliers" ->
      """WITH v AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |md AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5), 6) AS med
        |  FROM v GROUP BY 1),
        |dv AS (SELECT v.event_type, md.med,
        |    CAST(round(round(abs(v.value - md.med), 6) * 1000000)
        |      AS BIGINT) AS dev_micro
        |  FROM v JOIN md USING (event_type)),
        |mad AS (SELECT event_type,
        |    CAST(round(quantile_cont(dev_micro, 0.5)) AS BIGINT)
        |      AS mad_micro
        |  FROM dv GROUP BY 1)
        |SELECT dv.event_type, count(*) AS n_events,
        |  max(dv.med) AS median,
        |  max(round(CAST(mad.mad_micro AS DOUBLE) / 1e6, 6)) AS mad,
        |  CAST(sum(CASE WHEN dv.dev_micro > mad.mad_micro * 3 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST((CAST(sum(CASE WHEN dv.dev_micro > mad.mad_micro * 3
        |      THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 + count(*) // 2)
        |    // count(*) AS BIGINT) / 1e6, 6) AS outlier_share
        |FROM dv JOIN mad USING (event_type)
        |GROUP BY dv.event_type ORDER BY dv.event_type""".stripMargin,
  )

  /** Round-16 session operators. */
  val round16: Map[String, String] = Map(
    // TextDedup.p34DedupDividend: the winnow-closure canonical split
    // (min-id component = canonical, the p32b wcomp CTEs verbatim) ×
    // per-doc token counts → per source, the compute a canonical-only
    // training set saves; half-up micro share.
    "p34_dedup_dividend" ->
      s"""WITH RECURSIVE $shingleCte,
        |$winnowPairCte,
        |wedges AS (SELECT id_a AS src, id_b AS dst FROM wpairs
        |           UNION SELECT id_b, id_a FROM wpairs),
        |wreach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT wreach.id, wedges.dst
        |  FROM wreach JOIN wedges ON wreach.r = wedges.src),
        |wcomp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
        |          FROM wreach GROUP BY id),
        |dt AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
        |      AS BIGINT) AS n
        |  FROM documents),
        |fl AS (SELECT dt.source, dt.n,
        |    (wcomp.doc_id != wcomp.component) AS dup
        |  FROM dt JOIN wcomp ON dt.doc_id = wcomp.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN dup THEN n ELSE 0 END) AS BIGINT)
        |    AS dup_tokens,
        |  round(CAST((CAST(sum(CASE WHEN dup THEN n ELSE 0 END) AS HUGEINT)
        |      * 1000000 + CAST(sum(n) AS HUGEINT) // 2)
        |    // CAST(sum(n) AS HUGEINT) AS BIGINT) / 1e6, 6) AS saved_share
        |FROM fl GROUP BY source ORDER BY source""".stripMargin,
  )

  /** d10w's full SQL, shared with p26w (the p26-over-d10 composition
    * pattern): split-tagged capped winnow pairs (wpn carries the
    * shared-selection count), both contamination directions as filtered
    * selects of the tagged frame.
    */
  private val d10wSql: String =
    s"""WITH $shingleCte,
       |$winnowPairCte,
       |$splitCte,
       |tg AS (SELECT wpn.id_a, wpn.id_b, wpn.ns,
       |    sa.split AS split_a, sb.split AS split_b
       |  FROM wpn JOIN sp sa ON wpn.id_a = sa.doc_id
       |           JOIN sp sb ON wpn.id_b = sb.doc_id)
       |SELECT id_a AS eval_id, split_a AS eval_split, id_b AS train_id,
       |    CAST(ns AS BIGINT) AS shared
       |  FROM tg WHERE split_a IN ('val', 'test') AND split_b = 'train'
       |UNION ALL
       |SELECT id_b, split_b, id_a, CAST(ns AS BIGINT)
       |  FROM tg WHERE split_b IN ('val', 'test') AND split_a = 'train'
       |ORDER BY eval_id, train_id""".stripMargin

  /** Round-14 session operators: the bounded winnow-space twins of the
    * decontamination family (d10w/d12w/p26w — the d9/d9w default/audit
    * split applied to the leakage checks).
    */
  val round17: Map[String, String] = Map(
    // TextDedup.d10wDecontaminationWinnow: eval↔train near-dup pairs in
    // the capped wide winnow space (wpn = the winnowPairs asset's join
    // with its shared count kept).
    "d10w_decontamination_winnow" -> d10wSql,

    // TextDedup.d12wOverlapWinnow: per-eval-doc fraction of UNCAPPED
    // wide selections (wfp) present among the train split's selected
    // fingerprints — d12's vocabulary-overlap contract moved from the
    // shingle index to the selection index.
    "d12w_overlap_winnow" ->
      s"""WITH $shingleCte,
         |$winnowSelCte,
         |$splitCte,
         |tv AS (SELECT DISTINCT fp FROM wfp JOIN sp USING (doc_id)
         |       WHERE split = 'train'),
         |ev AS (SELECT w.doc_id, sp.split, w.fp
         |       FROM wfp w JOIN sp ON w.doc_id = sp.doc_id
         |       WHERE sp.split IN ('val', 'test'))
         |SELECT ev.doc_id, ev.split,
         |  count(*) AS n_sel,
         |  count(tv.fp) AS n_in_train,
         |  round(CAST(count(tv.fp) AS DOUBLE) / count(*), 6) AS overlap
         |FROM ev LEFT JOIN tv ON ev.fp = tv.fp
         |GROUP BY ev.doc_id, ev.split ORDER BY ev.doc_id LIMIT 2000""".stripMargin,

    // TextDedup.p26wContaminationWinnow: p26's per-source rate with the
    // pair source swapped to the bounded d10w space; same half-up micro
    // division.
    "p26w_contamination_winnow" ->
      s"""WITH d10w AS ($d10wSql),
         |cont AS (SELECT DISTINCT train_id AS doc_id FROM d10w),
         |a AS (SELECT d.source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_contaminated
         |  FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
         |  GROUP BY 1)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_contaminated,
         |  CAST((n_contaminated * 1000000 + n_docs // 2) // n_docs
         |    AS BIGINT) / 1e6 AS contamination_rate
         |FROM a ORDER BY source""".stripMargin,
  )

  def all: Map[String, String] =
    dedup ++ dedupCapped ++ dedupDecision ++ dedupComponents ++ containment ++
      decontamination ++ simhash ++ text ++ xent ++ pipeline ++ similarity ++
      events ++ multimodal ++ multimodalManifest ++ survival ++ ingest ++
      curation ++ release ++ round11 ++ round10 ++ round12 ++ round14 ++
      round15 ++ round15b ++ round15c ++ round16 ++ round17
}
