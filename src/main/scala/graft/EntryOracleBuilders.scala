package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.functions.GraftUdfs
import graft.operators.{Analyze, Ann, Bpe, Cluster, Dedup, Graph, Matcher, Multimodal, Scrub, Sketch, TextAnalysis, UrlOps}
import graft.streaming.StreamOps

/** Generated-DuckDB-SQL builders shared by [[EntryOracleSql]]: SQL twins generated from the engine's own word tables, plane constants, and model state so the oracle can never drift from the implementation. */
private[graft] trait EntryOracleBuilders { this: SparkEntry.type =>

  private[graft] val stopwordsSqlList: String =
    graft.functions.TextNlp.stopwords.toSeq.sorted
      .map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  private[graft] val langMarkersSql: Seq[(String, String)] =
    TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      lang -> ms.map(m => "'" + m.replace("'", "''") + "'").mkString(", ")
    }

  /** Kirsch-Mitzenmacher families from one md5 — mirrors
    * Dedup.minhashSignatures exactly. */
  private[graft] def minhashSigsSql: String = minhashSigsSql(8)

  private[graft] def minhashSigsSql(numHashes: Int,
                             independent: Boolean = false): String =
    (0 until numHashes).map(h =>
      if (independent) {
        // two families per salted digest: its 56-bit halves
        val (lo, len) = if (h % 2 == 0) (1, 14) else (15, 14)
        s"min(('0x' || substr(md5('mh${h / 2}:' || shingle), $lo, $len))::BIGINT) AS sig_$h"
      } else
        s"min(('0x' || substr(md5(shingle), 1, 14))::BIGINT + $h * ('0x' || substr(md5(shingle), 15, 14))::BIGINT) AS sig_$h")
      .mkString(",\n  ")

  private[graft] def minhashOracle: String =
    s"""WITH w AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents
       ), sh AS (
         SELECT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM w
       )
       SELECT doc_id, $minhashSigsSql FROM sh GROUP BY doc_id ORDER BY doc_id"""

  private[graft] def simhashOracle: String = {
    val votes = (0 until 60).map(b =>
      s"CAST(sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b_$b")
      .mkString(",\n  ")
    val fp = (0 until 60).map(b =>
      s"CASE WHEN b_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" | ")
    s"""WITH w AS (
         SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS word
         FROM documents
       ), h AS (
         SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM w
       ), v AS (
         SELECT doc_id, $votes FROM h GROUP BY doc_id
       )
       SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v ORDER BY doc_id"""
  }

  private[graft] def langIdOracle: String = {
    val hitCols = langMarkersSql.map { case (lang, list) =>
      s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ($list))) AS INTEGER) AS hits_$lang"
    }.mkString(",\n  ")
    val langs = langMarkersSql.map(_._1)
    val m = "greatest(" + langs.map(l => s"hits_$l").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
    s"""WITH h AS (
         SELECT doc_id, $hitCols FROM documents
       )
       SELECT doc_id, ${langs.map(l => s"hits_$l").mkString(", ")},
              CASE $pick END AS predicted_lang
       FROM h ORDER BY doc_id"""
  }

  /** Trained-NB langid oracle chain (q263/q264): RETRAINS the
    * [[graft.operators.TextAnalysis.langIdTrain]] model from raw text
    * — ground-truth labels on the deterministic 80% split, hashed
    * char-trigram bucket counts (salted-md5 % 1024, the DSIR hash
    * restatement), dense add-one smoothed micro-ln weights + micro-ln
    * priors, and the exact BIGINT scoring with the
    * (score DESC, lang ASC) argmax. Ends with CTEs `best`
    * (doc_id, trained_lang, score_micros, rn) and `hl`
    * (doc_id, lang, heur_lang, is_train); used WITHOUT a leading
    * WITH. */
  private[graft] def langIdTrainedCtes: String = {
    val hitCols = langMarkersSql.map { case (lang, list) =>
      s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ($list))) AS INTEGER) AS hits_$lang"
    }.mkString(",\n  ")
    val langs = langMarkersSql.map(_._1)
    val m = "greatest(" + langs.map(l => s"hits_$l").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
    s"""h AS (
         SELECT doc_id, text, lang, $hitCols FROM documents
       ), hl AS (
         SELECT doc_id, lang, CASE $pick END AS heur_lang,
                (doc_id % 5 <> 0) AS is_train FROM h
       ), lab AS (
         SELECT doc_id, lang, substr(lower(text), 1, 1024) AS t
         FROM documents WHERE doc_id % 5 <> 0
       ), lg AS (
         SELECT lang,
                ('0x' || substr(md5('langid:' || g), 1, 14))::BIGINT % 1024
                  AS bucket
         FROM (SELECT lang, unnest(list_transform(range(1, length(t) - 1),
                 i -> substr(t, i, 3))) AS g
               FROM lab)
       ), c AS (
         SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c
         FROM lg GROUP BY 1, 2
       ), tt AS (
         SELECT lang, CAST(sum(c) AS BIGINT) AS n_grams FROM c GROUP BY 1
       ), grid AS (
         SELECT tt.lang, b.bucket, tt.n_grams
         FROM tt CROSS JOIN (SELECT unnest(range(0, 1024)) AS bucket) b
       ), w AS (
         SELECT grid.lang, grid.bucket,
                CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                    / CAST(grid.n_grams + 1024 AS DOUBLE)) * 1e6) AS BIGINT)
                  AS w_micros
         FROM grid LEFT JOIN c
           ON c.lang = grid.lang AND c.bucket = grid.bucket
       ), dc AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM lab GROUP BY 1
       ), td AS (SELECT CAST(count(*) AS BIGINT) AS d FROM lab),
       pr AS (
         SELECT lang, CAST(round(ln(CAST(n_docs AS DOUBLE)
             / CAST(td.d AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micros
         FROM dc CROSS JOIN td
       ), ag AS (
         SELECT doc_id,
                ('0x' || substr(md5('langid:' || g), 1, 14))::BIGINT % 1024
                  AS bucket
         FROM (SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
                 i -> substr(t, i, 3))) AS g
               FROM (SELECT doc_id, substr(lower(text), 1, 1024) AS t
                     FROM documents))
       ), db AS (
         SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         FROM ag GROUP BY 1, 2
       ), sc AS (
         SELECT db.doc_id, w.lang,
                CAST(sum(db.cnt * w.w_micros) AS BIGINT) AS s
         FROM db JOIN w ON w.bucket = db.bucket GROUP BY 1, 2
       ), best AS (
         SELECT sc.doc_id, sc.lang AS trained_lang,
                sc.s + pr.prior_micros AS score_micros,
                row_number() OVER (PARTITION BY sc.doc_id
                  ORDER BY sc.s + pr.prior_micros DESC, sc.lang ASC) AS rn
         FROM sc JOIN pr ON pr.lang = sc.lang
       )"""
  }

  /** The NB-langid score chain of [[langIdTrainedCtes]] with the
    * corpus source parameterized (CTE or table name `src` carrying
    * doc_id, text, lang) — retrains the model on src's 80% split and
    * scores every src doc; ends in `best` (doc_id, trained_lang,
    * score_micros, rn). Used WITHOUT a leading WITH. */
  private[graft] def langIdChainCtes(src: String): String =
    s"""lab AS (
         SELECT doc_id, lang, substr(lower(text), 1, 1024) AS t
         FROM $src WHERE doc_id % 5 <> 0
       ), lg AS (
         SELECT lang,
                ('0x' || substr(md5('langid:' || g), 1, 14))::BIGINT % 1024
                  AS bucket
         FROM (SELECT lang, unnest(list_transform(range(1, length(t) - 1),
                 i -> substr(t, i, 3))) AS g
               FROM lab)
       ), c AS (
         SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c
         FROM lg GROUP BY 1, 2
       ), tt AS (
         SELECT lang, CAST(sum(c) AS BIGINT) AS n_grams FROM c GROUP BY 1
       ), grid AS (
         SELECT tt.lang, b.bucket, tt.n_grams
         FROM tt CROSS JOIN (SELECT unnest(range(0, 1024)) AS bucket) b
       ), w AS (
         SELECT grid.lang, grid.bucket,
                CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                    / CAST(grid.n_grams + 1024 AS DOUBLE)) * 1e6) AS BIGINT)
                  AS w_micros
         FROM grid LEFT JOIN c
           ON c.lang = grid.lang AND c.bucket = grid.bucket
       ), dc AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM lab GROUP BY 1
       ), td AS (SELECT CAST(count(*) AS BIGINT) AS d FROM lab),
       pr AS (
         SELECT lang, CAST(round(ln(CAST(n_docs AS DOUBLE)
             / CAST(td.d AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micros
         FROM dc CROSS JOIN td
       ), ag AS (
         SELECT doc_id,
                ('0x' || substr(md5('langid:' || g), 1, 14))::BIGINT % 1024
                  AS bucket
         FROM (SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
                 i -> substr(t, i, 3))) AS g
               FROM (SELECT doc_id, substr(lower(text), 1, 1024) AS t
                     FROM $src))
       ), db AS (
         SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         FROM ag GROUP BY 1, 2
       ), sc AS (
         SELECT db.doc_id, w.lang,
                CAST(sum(db.cnt * w.w_micros) AS BIGINT) AS s
         FROM db JOIN w ON w.bucket = db.bucket GROUP BY 1, 2
       ), best AS (
         SELECT sc.doc_id, sc.lang AS trained_lang,
                sc.s + pr.prior_micros AS score_micros,
                row_number() OVER (PARTITION BY sc.doc_id
                  ORDER BY sc.s + pr.prior_micros DESC, sc.lang ASC) AS rn
         FROM sc JOIN pr ON pr.lang = sc.lang
       )"""

  /** q276: retrain the NB-langid model on documents UNION the
    * [[graft.SparkEntry.langPlants]] VALUES rows (shared verbatim),
    * then roll up the per-slice confusion matrix with in-result
    * holdout-correct counts. */
  private[graft] def langPlantedOracle(
      plants: Seq[(Long, String, String)]): String = {
    val vals = plants.map { case (id, txt, lg) => s"($id, '$txt', '$lg')" }
      .mkString(",\n  ")
    s"""WITH corp AS MATERIALIZED (
         SELECT doc_id, text, lang FROM documents
         UNION ALL
         SELECT * FROM (VALUES $vals) AS p(doc_id, text, lang)
       ), ${langIdChainCtes("corp")}
       SELECT CASE WHEN b.doc_id >= 9000000 THEN 'planted'
                   ELSE 'harness' END AS slice,
              c2.lang, b.trained_lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN b.doc_id % 5 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_holdout,
              CAST(sum(CASE WHEN b.doc_id % 5 = 0
                             AND b.trained_lang = c2.lang
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS n_holdout_correct
       FROM best b JOIN corp c2 ON c2.doc_id = b.doc_id
       WHERE b.rn = 1
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
  }

  private[graft] def qualityOracle: String =
    s"""WITH m AS (
         SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
           CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ($stopwordsSqlList))) AS DOUBLE) AS n_stop
         FROM documents
       ), r AS (
         SELECT doc_id, n_words,
           n_alpha / greatest(n_words, 1.0) AS mean_word_len,
           n_alpha / greatest(n_chars_d, 1.0) AS alpha_ratio,
           n_digit / greatest(n_chars_d, 1.0) AS digit_ratio,
           n_punct / greatest(n_chars_d, 1.0) AS punct_ratio,
           n_upper / greatest(n_chars_d, 1.0) AS upper_ratio,
           n_stop / greatest(n_words, 1.0) AS stopword_ratio
         FROM m
       )
       SELECT doc_id, n_words, mean_word_len, alpha_ratio, digit_ratio,
              punct_ratio, upper_ratio, stopword_ratio,
              least(alpha_ratio / 0.7, 1.0) * 0.4
                + least(stopword_ratio / 0.3, 1.0) * 0.3
                + (1.0 - least(digit_ratio * 5, 1.0)) * 0.15
                + (1.0 - least(punct_ratio * 5, 1.0)) * 0.15 AS quality_score
       FROM r ORDER BY doc_id"""

  private[graft] def jaccardOracle: String =
    s"""WITH d AS (
         SELECT doc_id, text FROM documents WHERE doc_id < 40
       ), w AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM d
       ), sh AS (
         SELECT DISTINCT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM w
       ), sizes AS (
         SELECT doc_id, CAST(count(*) AS INTEGER) AS n_sh FROM sh GROUP BY doc_id
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM d a JOIN d b ON a.doc_id < b.doc_id
       ), inter AS (
         SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
         FROM pairs p
         JOIN sh ta ON ta.doc_id = p.id_a
         JOIN sh tb ON tb.doc_id = p.id_b AND ta.shingle = tb.shingle
         GROUP BY p.id_a, p.id_b
       )
       SELECT p.id_a, p.id_b,
              coalesce(i.n_inter, 0) AS n_inter,
              sa.n_sh AS n_a, sb.n_sh AS n_b,
              CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS jaccard
       FROM pairs p
       LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       JOIN sizes sa ON sa.doc_id = p.id_a
       JOIN sizes sb ON sb.doc_id = p.id_b
       ORDER BY p.id_a, p.id_b"""

  // --- ANN / streaming / multimodal oracle builders ----------------------

  /** Shared embeddings CTE: vectors cast to DOUBLE[] (exact float
    * widening — identical IEEE values to Spark's `cast("array<double>")`)
    * plus the L2 norm with the same expression tree as VectorOps. */
  private[graft] val embCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)"""

  /** Zero-guarded cosine — mirrors VectorOps.cosineWithNorms exactly. */
  private[graft] def cosSql(av: String, an: String, bv: String, bn: String): String =
    s"CASE WHEN $an * $bn = 0 THEN 0.0 ELSE list_dot_product($av, $bv) / ($an * $bn) END"

  /** One band's bucket: bit r set iff v · plane_{band*size+r} >= 0 —
    * the hyperplane CONSTANTS are inlined from Ann.hyperplanes, so
    * both engines evaluate the identical dot products. */
  private[graft] def bucketSql(vExpr: String, band: Int): String = {
    val bits = (0 until lshBandSize).map { r =>
      val plane = Ann.hyperplaneSqlLiteral(lshPlanes(band * lshBandSize + r))
      s"(CASE WHEN list_dot_product($vExpr, $plane) >= 0 THEN ${1L << r} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  /** One ≤63-bit sign code over an explicit plane list (q301's
    * single-band generalization of [[bucketSql]]) — the plane
    * CONSTANTS are inlined so both engines evaluate identical dot
    * products. */
  private[graft] def signCodeSql(vExpr: String,
      planes: Seq[Array[Double]]): String = {
    val bits = planes.zipWithIndex.map { case (p, r) =>
      s"(CASE WHEN list_dot_product($vExpr, ${Ann.hyperplaneSqlLiteral(p)}) >= 0 THEN ${1L << r} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  private[graft] def knnOracle: String =
    s"""$embCte,
       q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 = 0),
       s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS score
             FROM q CROSS JOIN n c),
       r AS (SELECT q_id, c_id, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk
             FROM s)
       SELECT q_id, CAST(rnk AS BIGINT) AS "rank", c_id, score
       FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** q145 oracle — nearest eval neighbour per train vector with the
    * 0.9-threshold flag (margin-verified on this corpus). */
  private[graft] def semanticDecontaminateOracle: String =
    s"""$embCte,
       q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 97 = 0),
       tr AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 97 <> 0
              UNION ALL
              SELECT -vec_id - 1 AS vec_id, v, nrm FROM n
              WHERE vec_id % 97 = 0 AND vec_id % 5 = 0),
       s AS (SELECT tr.vec_id, q.vec_id AS eval_id,
               ${cosSql("tr.v", "tr.nrm", "q.v", "q.nrm")} AS score
             FROM tr CROSS JOIN q),
       r AS (SELECT vec_id, eval_id, score,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY score DESC, eval_id ASC) AS rnk
             FROM s)
       SELECT vec_id, eval_id AS nearest_eval_id, score AS max_cos,
              score >= 0.9 AS contaminated
       FROM r WHERE rnk = 1 ORDER BY vec_id"""

  /** q99 oracle — filter-then-rank directly (the Spark side's
    * over-fetch + filter must equal it exactly). */
  private[graft] def hardNegativesOracle: String =
    s"""$embCte,
       q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 = 0),
       s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS score
             FROM q CROSS JOIN n c),
       f AS (SELECT * FROM s WHERE c_id <> q_id AND c_id <> q_id + 1),
       r AS (SELECT q_id, c_id, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk
             FROM f)
       SELECT q_id, CAST(rnk AS BIGINT) AS neg_rank, c_id, score
       FROM r WHERE rnk <= 5 ORDER BY q_id, neg_rank"""

  private[graft] def lshBucketsOracle: String = {
    val cols = (0 until lshPlanes.length / lshBandSize)
      .map(b => s"${bucketSql("v", b)} AS bucket_$b").mkString(",\n  ")
    s"""$embCte SELECT vec_id, $cols FROM e ORDER BY vec_id"""
  }

  private[graft] def lshNearDupOracle: String = {
    val nBands = lshPlanes.length / lshBandSize
    val bucketCols = (0 until nBands)
      .map(b => s"${bucketSql("v", b)} AS bucket_$b").mkString(", ")
    val unions = (0 until nBands).map { b =>
      s"""SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM bk a JOIN bk b2 ON a.bucket_$b = b2.bucket_$b AND a.vec_id < b2.vec_id"""
    }.mkString(" UNION ")
    s"""$embCte,
       bk AS (SELECT vec_id, $bucketCols FROM e),
       p AS ($unions),
       c AS (SELECT p.id_a, p.id_b,
               ${cosSql("x.v", "x.nrm", "y.v", "y.nrm")} AS "cos"
             FROM p JOIN n x ON x.vec_id = p.id_a JOIN n y ON y.vec_id = p.id_b)
       SELECT id_a, id_b, "cos" FROM c WHERE "cos" >= 0.45 ORDER BY id_a, id_b"""
  }

  /** q45/q46 oracle corpus: documents + the planted boilerplate
    * cluster (mirrors `corpusWithBoilerplate`). */
  private[graft] def boilerplateCorpusSql: String =
    s"""corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT 10000000 + r AS doc_id, '$boilerplateText' AS text
         FROM range(1, 13) t(r)
       ), """

  private[graft] def minhashLshPairsOracle: String =
    minhashPairsOracle(corpusCte = "", source = "documents", cap = None)

  /** q106: every LSH candidate pair (no Jaccard threshold) with the
    * signature-agreement count beside the exact Jaccard. */
  private[graft] def minhashEstimateOracle: String =
    minhashPairsOracle(corpusCte = "", source = "documents", cap = None,
      threshold = None, withSigEq = true)

  /** q108: [[Sketch.hllDistinct]] replayed register-for-register. The
    * α·m² and 2^K double constants are computed HERE with the same
    * Scala arithmetic the operator embeds via `lit`, then printed
    * through Double's round-tripping formatter — both engines hold
    * bit-identical constants, and the integer register sums make the
    * rest exact by construction. */
  private[graft] def hllDistinctOracle(p: Int): String = {
    val m = 1 << p
    val remBits = 60 - p
    val maxM = remBits + 1
    val alphaM2 = Sketch.hllAlpha(m) * m * m
    val twoK = math.pow(2.0, maxM)
    s"""WITH toks AS (
         SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok
         FROM documents
       ), nz AS (
         SELECT source, tok FROM toks WHERE tok <> ''
       ), hh AS (
         SELECT source, ('0x' || substr(md5('hll:' || tok), 1, 15))::BIGINT AS h
         FROM nz
       ), reg AS (
         SELECT source, h >> $remBits AS bucket,
                h & ((1::BIGINT << $remBits) - 1) AS r
         FROM hh
       ), mm AS (
         SELECT source, bucket,
                max(CASE WHEN r = 0 THEN $maxM
                         ELSE $maxM - length(bin(r)) END) AS mb
         FROM reg GROUP BY source, bucket
       ), agg AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_used,
                CAST(sum(1::BIGINT << ($maxM - mb)) AS BIGINT) AS sp
         FROM mm GROUP BY source
       ), fin AS (
         SELECT source, n_used,
                CAST(sp + ($m - n_used) * (1::BIGINT << $maxM) AS BIGINT) AS s,
                $m - n_used AS v
         FROM agg
       ), est AS (
         SELECT source, n_used, v,
                $alphaM2 * ($twoK / CAST(s AS DOUBLE)) AS raw
         FROM fin
       ), ex AS (
         SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
         FROM nz GROUP BY source
       )
       SELECT e.source, e.n_used,
              CASE WHEN e.raw <= ${2.5 * m} AND e.v > 0
                   THEN ${m.toDouble} * ln(${m.toDouble} / CAST(e.v AS DOUBLE))
                   ELSE e.raw END AS est,
              x.exact_distinct
       FROM est e JOIN ex x USING (source) ORDER BY source"""
  }

  /** q107: [[Graph.pageRank]]'s 5 iterations unrolled as CTEs. The
    * base literal is computed HERE in Scala — the same
    * `(1.0 − d)·10⁶` IEEE arithmetic `pageRank` embeds via `lit` —
    * and printed through Double's round-tripping formatter, so both
    * engines hold the bit-identical constant (with d = 0.85 it is NOT
    * exactly 150000). */
  private[graft] def pageRankOracle(iterations: Int, damping: Double): String = {
    val base = (1.0 - damping) * 1e6
    val iterCtes = (1 to iterations).map { i =>
      s"""r$i AS (
           SELECT n.node,
                  CAST(round($base + CAST($damping AS DOUBLE)
                             * CAST(coalesce(c.s, 0) AS DOUBLE)) AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT er.dst AS node,
                    sum(CAST(round(CAST(p.r AS DOUBLE) * er.ratio) AS BIGINT)) AS s
             FROM r${i - 1} p JOIN er ON er.src = p.node
             GROUP BY er.dst) c USING (node)
         )"""
    }.mkString(", ")
    s"""WITH adj AS (
         SELECT l_partkey AS src,
                lead(l_partkey) OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
         FROM lineitem
       ), ed AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         FROM adj WHERE dst IS NOT NULL GROUP BY src, dst
       ), ow AS (
         SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ed GROUP BY src
       ), er AS (
         SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS ratio
         FROM ed e JOIN ow o USING (src)
       ), nodes AS (
         SELECT src AS node FROM ed UNION SELECT dst FROM ed
       ), r0 AS (
         SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
       ), $iterCtes
       SELECT node, r AS rank_micro FROM r$iterations ORDER BY node"""
  }

  /** q219: [[Graph.personalizedPageRank]]'s rounds unrolled as CTEs —
    * the [[pageRankOracle]] trajectory with the restart term gated on
    * the seed flag (Brand#4 parts) and seed-only initial mass. */
  private[graft] def personalizedPageRankOracle(iterations: Int,
      damping: Double): String = {
    val base = (1.0 - damping) * 1e6
    val iterCtes = (1 to iterations).map { i =>
      s"""r$i AS (
           SELECT n.node, n.seed,
                  CAST(round(CASE WHEN n.seed THEN $base ELSE 0.0 END
                             + CAST($damping AS DOUBLE)
                             * CAST(coalesce(c.s, 0) AS DOUBLE)) AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT er.dst AS node,
                    sum(CAST(round(CAST(p.r AS DOUBLE) * er.ratio) AS BIGINT)) AS s
             FROM r${i - 1} p JOIN er ON er.src = p.node
             GROUP BY er.dst) c USING (node)
         )"""
    }.mkString(", ")
    s"""WITH adj AS (
         SELECT l_partkey AS src,
                lead(l_partkey) OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
         FROM lineitem
       ), ed AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         FROM adj WHERE dst IS NOT NULL GROUP BY src, dst
       ), ow AS (
         SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ed GROUP BY src
       ), er AS (
         SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS ratio
         FROM ed e JOIN ow o USING (src)
       ), sd AS (
         SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#4'
       ), nodes AS (
         SELECT node, (node IN (SELECT node FROM sd)) AS seed
         FROM (SELECT src AS node FROM ed UNION SELECT dst FROM ed)
       ), r0 AS (
         SELECT node, seed,
                CASE WHEN seed THEN CAST(1000000 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END AS r
         FROM nodes
       ), $iterCtes
       SELECT node, r AS rank_micro FROM r$iterations ORDER BY node"""
  }

  /** q174: [[graft.operators.Graph.hits]]'s rounds unrolled as CTEs
    * over the q107 co-purchase graph (simple directed: distinct
    * edges, self-loops dropped). Each half-round is a join-sum plus
    * an L∞ normalization whose round() expression is stated in the
    * identical IEEE shape; per-round CTEs are MATERIALIZED (each is
    * referenced by the next half-round AND the normalizer). */
  private[graft] def hitsOracle(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""ar$i AS MATERIALIZED (
           SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS raw
           FROM e JOIN h${i - 1} h ON h.node = e.src
           GROUP BY e.dst
         ), am$i AS MATERIALIZED (
           SELECT max(raw) AS mx FROM ar$i
         ), a$i AS MATERIALIZED (
           SELECT n.node,
                  CASE WHEN r.raw IS NULL THEN CAST(0 AS BIGINT)
                       ELSE CAST(round(CAST(r.raw AS DOUBLE) * 1000000.0
                                       / CAST(m.mx AS DOUBLE)) AS BIGINT)
                  END AS a
           FROM nodes n LEFT JOIN ar$i r USING (node) CROSS JOIN am$i m
         ), hr$i AS MATERIALIZED (
           SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS raw
           FROM e JOIN a$i a ON a.node = e.dst
           GROUP BY e.src
         ), hm$i AS MATERIALIZED (
           SELECT max(raw) AS mx FROM hr$i
         ), h$i AS MATERIALIZED (
           SELECT n.node,
                  CASE WHEN r.raw IS NULL THEN CAST(0 AS BIGINT)
                       ELSE CAST(round(CAST(r.raw AS DOUBLE) * 1000000.0
                                       / CAST(m.mx AS DOUBLE)) AS BIGINT)
                  END AS h
           FROM nodes n LEFT JOIN hr$i r USING (node) CROSS JOIN hm$i m
         )"""
    }.mkString(", ")
    s"""WITH adj AS (
         SELECT l_partkey AS src,
                lead(l_partkey) OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
         FROM lineitem
       ), e AS MATERIALIZED (
         SELECT DISTINCT src, dst
         FROM adj WHERE dst IS NOT NULL AND src <> dst
       ), nodes AS MATERIALIZED (
         SELECT src AS node FROM e UNION SELECT dst FROM e
       ), h0 AS (
         SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes
       ), $iterCtes
       SELECT n.node, a.a AS auth_micro, h.h AS hub_micro
       FROM nodes n JOIN a$iterations a USING (node)
                    JOIN h$iterations h USING (node)
       ORDER BY node"""
  }

  /** q177: [[graft.operators.Graph.randomWalks]] replayed hop by
    * hop — dst-sorted neighbor indexing, the md5 hop coordinate
    * `salt:start:t:node`, sink absorption via inner joins. */
  private[graft] def randomWalksOracle(steps: Int, startMod: Int,
      salt: String): String = {
    val hopCtes = (1 to steps).map { t =>
      s""", w$t AS MATERIALIZED (
           SELECT f.start, a.dst AS node, CAST($t AS BIGINT) AS step
           FROM w${t - 1} f
           JOIN deg d ON d.src = f.node
           JOIN adj a ON a.src = f.node AND a.idx =
             ('0x' || substr(md5('$salt:' || CAST(f.start AS VARCHAR)
                || ':$t:' || CAST(f.node AS VARCHAR)), 1, 14))::BIGINT
             % d.deg
         )"""
    }.mkString
    val unions = (0 to steps).map(t => s"SELECT * FROM w$t")
      .mkString(" UNION ALL ")
    s"""WITH adj0 AS (
         SELECT l_partkey AS src,
                lead(l_partkey) OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
         FROM lineitem
       ), e AS MATERIALIZED (
         SELECT DISTINCT src, dst FROM adj0 WHERE dst IS NOT NULL
       ), adj AS MATERIALIZED (
         SELECT src, dst,
                row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                  AS idx
         FROM e
       ), deg AS MATERIALIZED (
         SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
       ), w0 AS (
         SELECT p_partkey AS start, p_partkey AS node,
                CAST(0 AS BIGINT) AS step
         FROM part WHERE p_partkey % $startMod = 0
       )$hopCtes
       SELECT start, node, step FROM ($unions)
       ORDER BY start, step"""
  }

  /** Unrolled micro-quantized Lloyd's oracle mirroring
    * [[graft.operators.Cluster.kmeansMicro]]: per iteration an argmin
    * cross join (ties → lowest cell), a per-(cell,dim) integer mean
    * via zipped unnest, and an empty-cell carry. All distances are
    * exact BIGINT; only the one `round(sum/count)` expression touches
    * doubles, in the identical IEEE shape on both engines. */
  /** The kmeansMicro replay as a reusable CTE chain over any source
    * relation exposing (vec_id, embedding) — `m$iterations` is the
    * final assignment (vec_id, vq, cell, dist). Shared by the q110
    * oracle and the q121 semantic-dedup oracle. */
  private[graft] def kmeansCtesSql(src: String, k: Int, iterations: Int,
      salt: String, prefix: String = ""): String = {
    val P = prefix
    val iterCtes = (1 to iterations).map { i =>
      s"""${P}a$i AS (
           SELECT vec_id, vq, cell, dist,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) AS rn
           FROM (
             SELECT q.vec_id, q.vq, c.cell,
                    CAST(list_sum([(q.vq[j] - c.cvec[j])
                                   * (q.vq[j] - c.cvec[j])
                                   for j in range(1, len(q.vq) + 1)])
                         AS BIGINT) AS dist
             FROM ${P}q q, ${P}c${i - 1} c)
         ), ${P}m$i AS (
           SELECT vec_id, vq, cell, dist FROM ${P}a$i WHERE rn = 1
         ), ${P}u$i AS (
           SELECT cell, j,
                  CAST(round(CAST(sum(v) AS DOUBLE)
                             / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv
           FROM (SELECT cell, unnest(vq) AS v,
                        unnest(range(1, len(vq) + 1)) AS j FROM ${P}m$i)
           GROUP BY cell, j
         ), ${P}c$i AS (
           SELECT p.cell, coalesce(n.cvec, p.cvec) AS cvec
           FROM ${P}c${i - 1} p LEFT JOIN (
             SELECT cell, list(cv ORDER BY j) AS cvec FROM ${P}u$i
             GROUP BY cell) n USING (cell)
         )"""
    }.mkString(", ")
    s"""${P}q AS (
         SELECT vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         FROM $src
       ), ${P}sk AS (
         SELECT md5('$salt:' || CAST(vec_id AS VARCHAR)) AS h, vq
         FROM ${P}q ORDER BY h LIMIT $k
       ), ${P}c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INTEGER) AS cell,
                vq AS cvec
         FROM ${P}sk
       ), $iterCtes"""
  }

  /** Unrolled BPE-training oracle mirroring
    * [[graft.operators.Bpe.trainMerges]]: per round, pair counts via
    * a zipped parallel unnest of the two symbol-array slices, the
    * argmax with the (count DESC, lexical) tie-break recomputed from
    * the oracle's OWN state, and the merge applied with the same
    * left-to-right non-overlapping `replace` on the bracket
    * encoding. Fully independent recomputation — no learned
    * literals cross from the engine. */
  private[graft] def bpeTrainOracle(iterations: Int): String = {
    val rows = (1 to iterations).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS iteration, m.lft, m.rgt,
                 m.lft || m.rgt AS merged, m.pair_count, k.tokens_after
          FROM m$i m, k$i k"""
    }.mkString(" UNION ALL ")
    s"""WITH ${bpeMergeCtes(iterations)}
       $rows ORDER BY iteration"""
  }

  /** The shared merge-derivation CTE chain of the BPE oracles:
    * corpus word frequencies → bracket-encoded states → per round
    * (pair counts, argmax merge m$$i, post-merge states s$$i, corpus
    * token count k$$i). Both [[bpeTrainOracle]] and
    * [[bpeEncodeOracle]] retrain the merges from raw data through
    * these CTEs — no learned literals cross from the engine. */
  private def bpeMergeCtes(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""p$i AS (
           SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS pair_count
           FROM (
             SELECT unnest(syms[1:len(syms) - 1]) AS lft,
                    unnest(syms[2:len(syms)]) AS rgt, freq
             FROM (SELECT string_split(substr(state, 2,
                            length(state) - 2), '><') AS syms, freq
                   FROM s${i - 1}))
           GROUP BY lft, rgt
         ), m$i AS (
           SELECT lft, rgt, pair_count FROM p$i
           ORDER BY pair_count DESC, lft, rgt LIMIT 1
         ), s$i AS (
           SELECT replace(state, '<' || m.lft || '><' || m.rgt || '>',
                          '<' || m.lft || m.rgt || '>') AS state, freq
           FROM s${i - 1}, m$i m
         ), k$i AS (
           SELECT CAST(sum(freq * len(string_split(substr(state, 2,
                    length(state) - 2), '><'))) AS BIGINT) AS tokens_after
           FROM s$i
         )"""
    }.mkString(", ")
    s"""w AS (
         SELECT word, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(string_split_regex(lower(text), '\\s+'))
                        AS word
               FROM documents)
         WHERE regexp_full_match(word, '[a-z]+')
         GROUP BY word
       ), s0 AS (
         SELECT regexp_replace(word || '_', '(.)', '<\\1>', 'g')
                  AS state, freq
         FROM w
       ), $iterCtes"""
  }

  /** BPE ENCODE oracle mirroring [[graft.operators.Bpe.encodeStats]]:
    * retrains the `iterations` merges from raw data (the
    * [[bpeMergeCtes]] chain — the q123 trajectory), then applies
    * them in learned order to every document's bracket-encoded
    * words with the same left-to-right non-overlapping `replace`,
    * and aggregates per-document word / character-tokenizer /
    * BPE-tokenizer counts. Train → apply in one statement, both
    * sides derived from raw data only. */
  private[graft] def bpeEncodeOracle(iterations: Int): String = {
    val applyCtes = (1 to iterations).map { i =>
      s"""e$i AS (
           SELECT doc_id, chars,
                  replace(state, '<' || m.lft || '><' || m.rgt || '>',
                          '<' || m.lft || m.rgt || '>') AS state
           FROM e${i - 1}, m$i m
         )"""
    }.mkString(", ")
    s"""WITH ${bpeMergeCtes(iterations)},
       dw AS MATERIALIZED (
         SELECT doc_id, word FROM (
           SELECT doc_id,
                  unnest(string_split_regex(lower(text), '\\s+')) AS word
           FROM documents)
         WHERE regexp_full_match(word, '[a-z]+')
       ), e0 AS (
         SELECT doc_id, CAST(length(word) AS BIGINT) AS chars,
                regexp_replace(word || '_', '(.)', '<\\1>', 'g') AS state
         FROM dw
       ), $applyCtes
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(chars) + count(*) AS BIGINT) AS char_tokens,
              CAST(sum(len(string_split(substr(state, 2,
                     length(state) - 2), '><'))) AS BIGINT) AS bpe_tokens
       FROM e$iterations
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Unrolled fast-sigmoid-GD oracle mirroring
    * [[graft.operators.LinearModel.trainFastSigmoidGD]] over
    * [[graft.operators.LinearModel.qualityTrainingFrame]]: the q17
    * ratio features (identical IEEE expression trees), an integer-
    * predicate label, and per round the SAME left-assoc z fold,
    * rational fast sigmoid, micro-exact BIGINT gradient sums, and
    * the one double update expression — the whole trajectory
    * retrained from raw text, no learned literals crossing engines.
    * `apply = false` emits the per-round trajectory (q154);
    * `apply = true` scores every document with the oracle's OWN
    * final weights (q155). */
  /** The left-assoc z fold over alias `w`'s weight columns — the
    * [[graft.operators.LinearModel.zLiteral]] shape. */
  private def sigmoidZExpr(w: String): String =
    (0 until 7).map(j => s"$w.w$j * x$j").mkString(" + ")

  /** The WITH-body prefix shared by every trained-classifier oracle:
    * feature CTE `f` (q17 ratio expressions + integer-predicate
    * label) and the unrolled GD rounds ending in weights CTE
    * `w<rounds>`. Used WITHOUT a leading WITH. */
  /** One unrolled GD round over source CTE `src` (ungrouped form):
    * score with w(i−1), aggregate micro-exact gradients + error
    * counts, update into w(i). */
  private def sigmoidRoundCte(i: Int, lr: String, src: String): String = {
    val nF = 7
    val grads = (0 until nF).map(j =>
      s"""CAST(sum(CAST(round(((p - y) * x$j) * 1000000) AS BIGINT))
             AS BIGINT) AS g$j""").mkString(", ")
    val updates = (0 until nF).map(j =>
      s"w.w$j - $lr * ((g.g$j / 1000000.0) / CAST(g.n AS DOUBLE)) AS w$j")
      .mkString(", ")
    s"""s$i AS MATERIALIZED (
         SELECT f.*, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p
         FROM (SELECT f.*, (${sigmoidZExpr("w")}) AS z
               FROM $src f, w${i - 1} w) f
       ), g$i AS MATERIALIZED (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN y = 1.0 AND z < 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS pos_err,
                CAST(sum(CASE WHEN y = 0.0 AND z >= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS neg_err,
                $grads
         FROM s$i
       ), w$i AS MATERIALIZED (
         SELECT $updates FROM w${i - 1} w, g$i g
       )"""
  }

  private[graft] def sigmoidGdPrefix(rounds: Int, lr: String): String = {
    val nF = 7
    val roundCtes = (1 to rounds)
      .map(i => sigmoidRoundCte(i, lr, "f")).mkString(", ")
    val w0 = (0 until nF).map(j => s"0.0 AS w$j").mkString(", ")
    s"""m AS MATERIALIZED (
         SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_i,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS BIGINT) AS n_alpha_i,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS BIGINT) AS n_words_i,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS DOUBLE) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS DOUBLE) AS n_digit,
           CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                AS DOUBLE) AS n_punct,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                AS DOUBLE) AS n_upper,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ($stopwordsSqlList))) AS DOUBLE) AS n_stop
         FROM documents
       ), f AS MATERIALIZED (
         SELECT doc_id, 1.0 AS x0,
           n_alpha / greatest(n_chars_d, 1.0) AS x1,
           n_digit / greatest(n_chars_d, 1.0) AS x2,
           n_punct / greatest(n_chars_d, 1.0) AS x3,
           n_upper / greatest(n_chars_d, 1.0) AS x4,
           n_stop / greatest(n_words, 1.0) AS x5,
           (n_alpha * 100.0 - n_chars_d * 82.0) / greatest(n_chars_d, 1.0)
             AS x6,
           CASE WHEN n_alpha_i * 100 >= n_chars_i * 82 AND n_words_i >= 5
                THEN 1.0 ELSE 0.0 END AS y
         FROM m
       ), w0 AS (SELECT $w0), $roundCtes"""
  }

  private[graft] def sigmoidGdOracle(rounds: Int, lr: String,
      apply: Boolean, withWave: Boolean = false): String = {
    def zExpr(w: String) = sigmoidZExpr(w)
    val prefix = s"WITH ${sigmoidGdPrefix(rounds, lr)}"
    if (!apply) {
      val wAliases = Seq("bias", "alpha", "digit", "punct", "upper", "stop",
          "margin")
        .zipWithIndex.map { case (nm, j) => s"w.w$j AS w_x_$nm" }
        .mkString(", ")
      val rows = (1 to rounds).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round, g.pos_err AS n_pos_err,
                   g.neg_err AS n_neg_err, $wAliases
            FROM g$i g, w$i w"""
      }.mkString(" UNION ALL ")
      s"""$prefix
         $rows ORDER BY round"""
    } else {
      val waveCol = if (withWave)
        "CAST((doc_id // 20) % 2 AS BIGINT) AS wave,\n                " else ""
      val correctCol = if (withWave) "" else
        """,
                (CASE WHEN z >= 0 THEN 1 ELSE 0 END) = CAST(y AS BIGINT)
                  AS correct"""
      s"""$prefix,
         za AS (
           SELECT doc_id, y, (${zExpr("w")}) AS z FROM f, w$rounds w
         )
         SELECT doc_id, ${waveCol}0.5 * (1.0 + z / (1.0 + abs(z))) AS p,
                CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
                CAST(y AS BIGINT) AS label$correctCol
         FROM za ORDER BY doc_id"""
    }
  }

  /** q167: MMR greedy replay — the candidate set (rel = query
    * cosine) built from the shared embCte, then k unrolled greedy
    * steps, each one an argmax of `0.5·rel − 0.5·max_sim` over the
    * not-yet-picked candidates with max_sim the MAX cosine to every
    * picked vector (order-free over bit-identical doubles), ties to
    * the lower vec_id. */
  private[graft] def mmrOracle(k: Int): String = {
    val steps = (2 to k).map { t =>
      val selIds = s"SELECT vec_id FROM sv${t - 1}"
      s"""p$t AS MATERIALIZED (
           SELECT vec_id, rel, max_sim,
                  0.5 * rel - 0.5 * max_sim AS score
           FROM (
             SELECT c.vec_id, c.rel,
                    max(${cosSql("c.v", "c.nrm", "s.v", "s.nrm")}) AS max_sim
             FROM cand c, sv${t - 1} s
             WHERE c.vec_id NOT IN ($selIds)
             GROUP BY c.vec_id, c.rel)
           ORDER BY score DESC, vec_id LIMIT 1
         ), pv$t AS (
           SELECT c.vec_id, c.v, c.nrm FROM cand c, p$t p
           WHERE c.vec_id = p.vec_id
         ), sv$t AS (
           SELECT * FROM sv${t - 1} UNION ALL SELECT * FROM pv$t
         )"""
    }.mkString(", ")
    val rows = (1 to k).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS "rank", vec_id, rel, max_sim, score
          FROM p$t"""
    }.mkString(" UNION ALL ")
    s"""$embCte,
         q AS (SELECT v, nrm FROM n WHERE vec_id = 0),
         cand AS MATERIALIZED (
           SELECT c.vec_id, c.v, c.nrm,
                  ${cosSql("c.v", "c.nrm", "q.v", "q.nrm")} AS rel
           FROM n c, q WHERE c.vec_id % 10 = 0 AND c.vec_id <> 0
         ), p1 AS MATERIALIZED (
           SELECT vec_id, rel, 0.0 AS max_sim,
                  0.5 * rel - 0.5 * 0.0 AS score
           FROM cand ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, vec_id LIMIT 1
         ), pv1 AS (
           SELECT c.vec_id, c.v, c.nrm FROM cand c, p1 p
           WHERE c.vec_id = p.vec_id
         ), sv1 AS (SELECT * FROM pv1), $steps
         $rows ORDER BY "rank""""
  }

  /** q163: continual training — phase 1 is the q154 fit on the full
    * corpus; phase 2 WARM-STARTS from its final weights and
    * fine-tunes on the new crawl wave only ((doc_id // 20) % 2 = 1).
    * Both phases' trajectories retrained and replayed bit-for-bit. */
  private[graft] def sigmoidGdWarmOracle(p1: Int, p2: Int,
      lr: String): String = {
    val wAliases = Seq("bias", "alpha", "digit", "punct", "upper", "stop",
        "margin")
      .zipWithIndex.map { case (nm, j) => s"w.w$j AS w_x_$nm" }
      .mkString(", ")
    val phase2 = (p1 + 1 to p1 + p2)
      .map(i => sigmoidRoundCte(i, lr, "f1")).mkString(", ")
    val rows = ((1 to p1).map(i => (1, i, i)) ++
        (p1 + 1 to p1 + p2).map(i => (2, i - p1, i)))
      .map { case (ph, r, i) =>
        s"""SELECT CAST($ph AS BIGINT) AS phase, CAST($r AS BIGINT) AS round,
                   g.pos_err AS n_pos_err, g.neg_err AS n_neg_err, $wAliases
            FROM g$i g, w$i w"""
      }.mkString(" UNION ALL ")
    s"""WITH ${sigmoidGdPrefix(p1, lr)},
         f1 AS MATERIALIZED (SELECT * FROM f WHERE (doc_id // 20) % 2 = 1),
         $phase2
         $rows ORDER BY phase, round"""
  }

  /** q161: calibration audit — the [[sigmoidGdPrefix]] retrains the
    * model, then decile-bins its own probabilities with micro-exact
    * per-bin sums. */
  private[graft] def sigmoidCalibrationOracle(rounds: Int,
      lr: String): String =
    s"""WITH ${sigmoidGdPrefix(rounds, lr)},
         za AS (
           SELECT doc_id, y, (${sigmoidZExpr("w")}) AS z FROM f, w$rounds w
         ), pa AS (
           SELECT y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM za
         )
         SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_pos,
                CAST(sum(CAST(round(p * 1000000) AS BIGINT)) AS BIGINT)
                  AS p_micro_sum
         FROM pa GROUP BY 1 ORDER BY bin"""

  /** q162: exact tie-aware AUC — the [[sigmoidGdPrefix]] retrains
    * the model, collapses to per-score counts, and replays the
    * integer mid-rank arithmetic. */
  private[graft] def sigmoidAucOracle(rounds: Int, lr: String): String =
    s"""WITH ${sigmoidGdPrefix(rounds, lr)},
         za AS (
           SELECT doc_id, (${sigmoidZExpr("w")}) AS z FROM f, w$rounds w
         ), sc AS (
           SELECT CAST(round((0.5 * (1.0 + z / (1.0 + abs(z)))) * 1000000)
                       AS BIGINT) AS score_micro,
                  CASE WHEN m.n_alpha * 100 >= m.n_chars_d * 82
                            AND m.n_stop * 100 >= m.n_words * 5
                       THEN 1.0 ELSE 0.0 END AS gold
           FROM za JOIN m USING (doc_id)
         ), g AS (
           SELECT score_micro,
                  CAST(sum(CASE WHEN gold = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS tp,
                  CAST(sum(CASE WHEN gold = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS tn
           FROM sc GROUP BY 1
         ), c AS (
           SELECT tp, tn,
                  CAST(sum(tn) OVER (ORDER BY score_micro
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - tn AS cn
           FROM g
         ), tot AS (
           SELECT CAST(sum(tp) AS BIGINT) AS n_pos,
                  CAST(sum(tn) AS BIGINT) AS n_neg,
                  CAST(sum(tp * (2 * cn + tn)) AS BIGINT) AS auc_num2
           FROM c
         )
         SELECT n_pos, n_neg, auc_num2,
                CAST(auc_num2 AS DOUBLE)
                  / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) AS auc
         FROM tot"""

  /** q160: the GROUPED (per-source) GD oracle — the
    * [[sigmoidGdPrefix]] feature CTE threaded with `source`, weights
    * keyed by source (one row per model), every round ONE grouped
    * aggregate joined back by source. Retrains every per-domain
    * model from raw text, trajectory and weights bit-for-bit. */
  private[graft] def sigmoidGdGroupedOracle(rounds: Int,
      lr: String): String = {
    val nF = 7
    val roundCtes = (1 to rounds).map { i =>
      val grads = (0 until nF).map(j =>
        s"""CAST(sum(CAST(round(((p - y) * x$j) * 1000000) AS BIGINT))
               AS BIGINT) AS g$j""").mkString(", ")
      val updates = (0 until nF).map(j =>
        s"w.w$j - $lr * ((g.g$j / 1000000.0) / CAST(g.n AS DOUBLE)) AS w$j")
        .mkString(", ")
      s"""s$i AS MATERIALIZED (
           SELECT f.*, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p
           FROM (SELECT f.*, (${sigmoidZExpr("w")}) AS z
                 FROM f JOIN w${i - 1} w USING (source)) f
         ), g$i AS MATERIALIZED (
           SELECT source, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN y = 1.0 AND z < 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS pos_err,
                  CAST(sum(CASE WHEN y = 0.0 AND z >= 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS neg_err,
                  $grads
           FROM s$i GROUP BY source
         ), w$i AS MATERIALIZED (
           SELECT g.source, $updates
           FROM w${i - 1} w JOIN g$i g USING (source)
         )"""
    }.mkString(", ")
    val w0 = (0 until nF).map(j => s"0.0 AS w$j").mkString(", ")
    val wAliases = Seq("bias", "alpha", "digit", "punct", "upper", "stop",
        "margin")
      .zipWithIndex.map { case (nm, j) => s"w.w$j AS w_x_$nm" }
      .mkString(", ")
    val rowsSql = (1 to rounds).map { i =>
      s"""SELECT g.source, CAST($i AS BIGINT) AS round,
                 g.pos_err AS n_pos_err, g.neg_err AS n_neg_err, $wAliases
          FROM g$i g JOIN w$i w USING (source)"""
    }.mkString(" UNION ALL ")
    s"""WITH m AS MATERIALIZED (
         SELECT doc_id, source,
           CAST(length(text) AS BIGINT) AS n_chars_i,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS BIGINT) AS n_alpha_i,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS BIGINT) AS n_words_i,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS DOUBLE) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS DOUBLE) AS n_digit,
           CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                AS DOUBLE) AS n_punct,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                AS DOUBLE) AS n_upper,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ($stopwordsSqlList))) AS DOUBLE) AS n_stop
         FROM documents
       ), f AS MATERIALIZED (
         SELECT doc_id, source, 1.0 AS x0,
           n_alpha / greatest(n_chars_d, 1.0) AS x1,
           n_digit / greatest(n_chars_d, 1.0) AS x2,
           n_punct / greatest(n_chars_d, 1.0) AS x3,
           n_upper / greatest(n_chars_d, 1.0) AS x4,
           n_stop / greatest(n_words, 1.0) AS x5,
           (n_alpha * 100.0 - n_chars_d * 82.0) / greatest(n_chars_d, 1.0)
             AS x6,
           CASE WHEN n_alpha_i * 100 >= n_chars_i * 82 AND n_words_i >= 5
                THEN 1.0 ELSE 0.0 END AS y
         FROM m
       ), w0 AS (SELECT DISTINCT source, $w0 FROM f), $roundCtes
       $rowsSql ORDER BY source, round"""
  }

  /** q159: the curation pipeline with a TRAINED gate — the
    * [[sigmoidGdPrefix]] retrains the classifier, its z ≥ 0 decision
    * gates the corpus, then exact first-wins dedup, the split-hash
    * CASE, and the q52 packing window replay the rest. One statement
    * proves model training composes inside a certified pipeline. */
  private[graft] def trainedCurationOracle(rounds: Int, lr: String): String =
    s"""WITH ${sigmoidGdPrefix(rounds, lr)},
         gate AS (
           SELECT f.doc_id FROM f, w$rounds w
           WHERE (${sigmoidZExpr("w")}) >= 0
         ), gdocs AS (
           SELECT d.doc_id, d.text
           FROM documents d JOIN gate USING (doc_id)
         ), dd AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text, row_number() OVER (
               PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gdocs)
           WHERE rn = 1
         ), tk AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
                    AS ws_tokens,
                  ${splitHashSql("graft", 100)} AS hs
           FROM dd
         ), sp AS (
           SELECT doc_id, ws_tokens,
                  CASE WHEN hs < 90 THEN 'train'
                       WHEN hs < 95 THEN 'valid' ELSE 'test' END AS split
           FROM tk
         ), c AS (
           SELECT doc_id, split, ws_tokens,
                  CAST(SUM(ws_tokens) OVER (PARTITION BY split ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    - ws_tokens AS strt
           FROM sp
         )
         SELECT doc_id, split, ws_tokens,
                CAST(floor(strt / 512) AS BIGINT) AS pack_id,
                strt - CAST(floor(strt / 512) AS BIGINT) * 512 AS pack_offset
         FROM c ORDER BY doc_id"""

  /** The q147 cascade replay, parameterized only by the optional
    * `wave` output column (q150's streamed twin appends the wave its
    * query arrived in; waves partition the query set by vec_id, so
    * the oracle restates the wave as a pure function of q_id). */
  private[graft] def retrievalCascadeOracle(withWave: Boolean): String = {
    val waveCol = if (withWave)
      "CAST(CASE WHEN t3.q_id % 100 = 0 THEN 0 ELSE 1 END AS BIGINT) AS wave,\n                "
    else ""
    s"""$embCte,
         tn AS (SELECT vec_id, v[1:32] AS tv,
                       sqrt(list_dot_product(v[1:32], v[1:32])) AS tnrm FROM e),
         qset AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 = 0),
         qp AS (SELECT vec_id, tv, tnrm FROM tn WHERE vec_id % 50 = 0),
         t1 AS (SELECT q_id, c_id FROM (
                  SELECT qp.vec_id AS q_id, c.vec_id AS c_id,
                         row_number() OVER (PARTITION BY qp.vec_id ORDER BY
                           ${cosSql("qp.tv", "qp.tnrm", "c.tv", "c.tnrm")} DESC,
                           c.vec_id ASC) AS rn
                  FROM qp CROSS JOIN tn c)
                WHERE rn <= 100),
         s8 AS (SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         dq AS (SELECT vec_id,
                       list_transform(v, x ->
                         CAST(CAST(CASE WHEN scale = 0 THEN 0
                                        ELSE round(x / scale * 127)
                                   END AS TINYINT) AS DOUBLE) * scale / 127) AS dv
                FROM s8),
         dqn AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS dnrm FROM dq),
         t2 AS (SELECT q_id, c_id FROM (
                  SELECT t1.q_id, t1.c_id,
                         row_number() OVER (PARTITION BY t1.q_id ORDER BY
                           ${cosSql("q.v", "q.nrm", "d.dv", "d.dnrm")} DESC,
                           t1.c_id ASC) AS rn
                  FROM t1 JOIN dqn d ON d.vec_id = t1.c_id
                          JOIN qset q ON q.vec_id = t1.q_id)
                WHERE rn <= 30),
         t3 AS (SELECT q_id, rn AS rnk, c_id, score FROM (
                  SELECT t2.q_id, t2.c_id,
                         ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS score,
                         row_number() OVER (PARTITION BY t2.q_id ORDER BY
                           ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} DESC,
                           t2.c_id ASC) AS rn
                  FROM t2 JOIN n c ON c.vec_id = t2.c_id
                          JOIN qset q ON q.vec_id = t2.q_id)
                WHERE rn <= 5),
         ex AS (SELECT q_id, c_id, rn AS exact_rank FROM (
                  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                         row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} DESC,
                           c.vec_id ASC) AS rn
                  FROM qset q CROSS JOIN n c)
                WHERE rn <= 5)
         SELECT ${waveCol}t3.q_id, CAST(t3.rnk AS BIGINT) AS "rank", t3.c_id, t3.score,
                CAST(coalesce(ex.exact_rank, 0) AS BIGINT) AS exact_rank
         FROM t3 LEFT JOIN ex ON ex.q_id = t3.q_id AND ex.c_id = t3.c_id
         ORDER BY t3.q_id, t3.rnk"""
  }

  /** q149's oracle: RETRAIN the deterministic IVF index inside
    * DuckDB (the [[kmeansCtesSql]] trajectory), probe `nProbe` cells
    * per query with the same exact integer distance the build used
    * (ties -> lowest cell), then replay the shared int8 -> exact
    * cascade tail with brute-force exact_rank ground truth — the
    * whole corpus-scale read path, index build included, in one
    * generated query. */
  private[graft] def ivfCascadeOracle(kCells: Int, iterations: Int,
      nProbe: Int, c2: Int, k: Int, salt: String): String =
    s"""WITH ${kmeansCtesSql("embeddings", kCells, iterations, salt)},
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       qset AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 = 0),
       qmq AS (SELECT vec_id, vq FROM q WHERE vec_id % 50 = 0),
       probes AS (SELECT q_id, cell FROM (
           SELECT qm.vec_id AS q_id, c.cell,
                  row_number() OVER (PARTITION BY qm.vec_id ORDER BY
                    CAST(list_sum([(qm.vq[j] - c.cvec[j]) * (qm.vq[j] - c.cvec[j])
                                   for j in range(1, len(qm.vq) + 1)]) AS BIGINT) ASC,
                    c.cell ASC) AS rn
           FROM qmq qm CROSS JOIN c${iterations - 1} c)
         WHERE rn <= $nProbe),
       cand AS (SELECT p.q_id, a.vec_id AS c_id
                FROM probes p JOIN m$iterations a ON a.cell = p.cell),
       s8 AS (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
       dq AS (SELECT vec_id,
                     list_transform(v, x ->
                       CAST(CAST(CASE WHEN scale = 0 THEN 0
                                      ELSE round(x / scale * 127)
                                 END AS TINYINT) AS DOUBLE) * scale / 127) AS dv
              FROM s8),
       dqn AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS dnrm FROM dq),
       t2 AS (SELECT q_id, c_id FROM (
                SELECT cd.q_id, cd.c_id,
                       row_number() OVER (PARTITION BY cd.q_id ORDER BY
                         ${cosSql("q.v", "q.nrm", "d.dv", "d.dnrm")} DESC,
                         cd.c_id ASC) AS rn
                FROM cand cd JOIN dqn d ON d.vec_id = cd.c_id
                        JOIN qset q ON q.vec_id = cd.q_id)
              WHERE rn <= $c2),
       t3 AS (SELECT q_id, rn AS rnk, c_id, score FROM (
                SELECT t2.q_id, t2.c_id,
                       ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS score,
                       row_number() OVER (PARTITION BY t2.q_id ORDER BY
                         ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} DESC,
                         t2.c_id ASC) AS rn
                FROM t2 JOIN n c ON c.vec_id = t2.c_id
                        JOIN qset q ON q.vec_id = t2.q_id)
              WHERE rn <= $k),
       ex AS (SELECT q_id, c_id, rn AS exact_rank FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} DESC,
                         c.vec_id ASC) AS rn
                FROM qset q CROSS JOIN n c)
              WHERE rn <= $k)
       SELECT t3.q_id, CAST(t3.rnk AS BIGINT) AS "rank", t3.c_id, t3.score,
              CAST(coalesce(ex.exact_rank, 0) AS BIGINT) AS exact_rank
       FROM t3 LEFT JOIN ex ON ex.q_id = t3.q_id AND ex.c_id = t3.c_id
       ORDER BY t3.q_id, t3.rnk"""

  /** Shared PQ oracle fragments (q256/q257): the m prefixed
    * per-subspace [[kmeansCtesSql]] trajectories over sliced
    * embeddings, the rebuilt codes/codebooks, the micro-quantized
    * query set, and the |Q|·m·k ADC distance table. Ends with CTE
    * `dtab`; used WITHOUT a leading WITH. */
  private[graft] def pqCoreCtes(m: Int, subDim: Int, k: Int,
      iterations: Int, salt: String, qMod: Int = 50,
      src: String = "embeddings"): String = {
    val chains = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      kmeansCtesSql(
        s"(SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $src)",
        k, iterations, s"$salt$s", prefix = s"p${s}_")
    }.mkString(",\n       ")
    val codesUnion = (0 until m).map(s =>
      s"SELECT vec_id, $s AS sub, cell AS code FROM p${s}_m$iterations")
      .mkString(" UNION ALL ")
    val booksUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, cell AS code, cvec FROM p${s}_c${iterations - 1}")
      .mkString(" UNION ALL ")
    val qsubUnion = (0 until m).map(s =>
      s"SELECT q_id, $s AS sub, qvq[${s * subDim + 1}:${(s + 1) * subDim}] AS qv FROM qs")
      .mkString(" UNION ALL ")
    s"""$chains,
       codes AS ($codesUnion),
       books AS ($booksUnion),
       qs AS (
         SELECT vec_id AS q_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS qvq
         FROM $src WHERE vec_id % $qMod = 0
       ), qsub AS ($qsubUnion
       ), dtab AS (
         SELECT q_id, sub, code,
                CAST(list_sum([(qv[j] - cvec[j]) * (qv[j] - cvec[j])
                               for j in range(1, len(qv) + 1)])
                     AS BIGINT) AS d2
         FROM qsub JOIN books USING (sub)
       )"""
  }

  /** Shared PQ oracle tail (q256/q257): rank the ADC scores, join in
    * brute-force integer-micro exact ranks, emit the final board.
    * Consumes a CTE `sc` (q_id, vec_id, adc_dist2) and `qs`. */
  private[graft] def pqRankTailSql(topK: Int,
      src: String = "embeddings"): String =
    s"""tk AS (
         SELECT q_id, vec_id, adc_dist2,
                row_number() OVER (PARTITION BY q_id
                                   ORDER BY adc_dist2, vec_id) AS rnk
         FROM sc
       ), cvq AS (
         SELECT vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         FROM $src
       ), ex AS (
         SELECT q_id, vec_id, rn AS exact_rank FROM (
           SELECT q.q_id, c.vec_id,
                  row_number() OVER (PARTITION BY q.q_id ORDER BY
                    CAST(list_sum([(q.qvq[j] - c.vq[j]) * (q.qvq[j] - c.vq[j])
                                   for j in range(1, len(q.qvq) + 1)])
                         AS BIGINT) ASC,
                    c.vec_id ASC) AS rn
           FROM qs q CROSS JOIN cvq c)
         WHERE rn <= $topK
       )
       SELECT tk.q_id, CAST(tk.rnk AS BIGINT) AS "rank", tk.vec_id,
              tk.adc_dist2,
              CAST(coalesce(ex.exact_rank, 0) AS BIGINT) AS exact_rank
       FROM tk LEFT JOIN ex ON ex.q_id = tk.q_id AND ex.vec_id = tk.vec_id
       WHERE tk.rnk <= $topK
       ORDER BY tk.q_id, tk.rnk"""

  /** The OPQ-lite permutation chain
    * ([[graft.operators.Ann.opqPermutation]] replayed): per-coordinate
    * integer-micro variance keys `n·Σx² − (Σx)²` in HUGEINT, the
    * (key DESC, j ASC) argsort, the round-robin subspace assignment,
    * and the rebuilt permuted corpus as CTE `pemb` (vec_id,
    * embedding DOUBLE[]). Used as `preCtes` for [[ivfPqOracle]]. */
  private[graft] def opqPermCtes(m: Int, subDim: Int): String =
    s"""oq_ed AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), oq_u AS (
         SELECT vec_id, unnest(v) AS val,
                unnest(range(1, len(v) + 1)) AS j
         FROM oq_ed
       ), oq_vk AS (
         SELECT j,
                CAST(count(*) AS HUGEINT)
                  * sum(CAST(round(val * 1000000) AS HUGEINT)
                        * CAST(round(val * 1000000) AS HUGEINT))
                - sum(CAST(round(val * 1000000) AS HUGEINT))
                  * sum(CAST(round(val * 1000000) AS HUGEINT)) AS vkey
         FROM oq_u GROUP BY j
       ), oq_pm AS (
         SELECT j, ((r % $m) * $subDim + (r // $m)) AS newpos
         FROM (SELECT j, row_number() OVER (ORDER BY vkey DESC, j ASC) - 1
                      AS r
               FROM oq_vk)
       ), pemb AS MATERIALIZED (
         SELECT u.vec_id, array_agg(u.val ORDER BY p.newpos) AS embedding
         FROM oq_u u JOIN oq_pm p ON p.j = u.j
         GROUP BY u.vec_id
       ), """

  /** q280's oracle: rebuild the NN-descent graph round by round —
    * banded hash-bucket random init trimmed by salted-hash order,
    * then `rounds` refinements each re-deriving the candidate set
    * {undirected ∪ neighbor-of-neighbor} and keeping the `degree`
    * nearest by exact integer-micro L2 — then replay every hop of the
    * fixed-budget beam walk as chained CTEs, ending in the shared PQ
    * rank tail (brute-force exact ranks joined in). */
  private[graft] def nnDescentOracle(degree: Int, rounds: Int, bands: Int,
      beam: Int, hops: Int, topK: Int, salt: String, qMod: Int,
      longLinks: Int = 2): String = {
    val d2 = "CAST(list_sum([(sv[j] - dv[j]) * (sv[j] - dv[j]) " +
      "for j in range(1, len(sv) + 1)]) AS BIGINT)"
    val bandUnion = (0 until bands).map(r =>
      s"""SELECT vec_id, $r AS r,
             ('0x' || substr(md5('$salt:$r:' || CAST(vec_id AS VARCHAR)),
              1, 14))::BIGINT % (SELECT b FROM nb) AS bkt
          FROM embeddings""").mkString(" UNION ALL ")
    val roundCtes = (1 to rounds).map { i =>
      s"""und$i AS (
           SELECT src, dst FROM g${i - 1}
           UNION SELECT dst, src FROM g${i - 1}
         ), cand$i AS (
           SELECT src, dst FROM und$i
           UNION
           SELECT x.src, y.dst FROM und$i x JOIN und$i y ON x.dst = y.src
           WHERE x.src <> y.dst
         ), g$i AS MATERIALIZED (
           SELECT src, dst FROM (
             SELECT c.src, c.dst,
                    row_number() OVER (PARTITION BY c.src
                      ORDER BY $d2, c.dst) AS rn
             FROM (SELECT c0.src, c0.dst, s.vq AS sv, d.vq AS dv
                   FROM cand$i c0
                   JOIN ev s ON s.vec_id = c0.src
                   JOIN ev d ON d.vec_id = c0.dst) c)
           WHERE rn <= $degree)"""
    }.mkString(", ")
    val qd2 = "CAST(list_sum([(q.qvq[j] - v.vq[j]) * (q.qvq[j] - v.vq[j]) " +
      "for j in range(1, len(q.qvq) + 1)]) AS BIGINT)"
    val hopCtes = (1 to hops).map { h =>
      s"""x$h AS (
           SELECT DISTINCT q_id, vec_id FROM (
             SELECT q_id, vec_id FROM b${h - 1}
             UNION ALL
             SELECT b.q_id, g.dst FROM b${h - 1} b
             JOIN gfin g ON g.src = b.vec_id)
         ), b$h AS MATERIALIZED (
           SELECT q_id, vec_id FROM (
             SELECT x.q_id, x.vec_id,
                    row_number() OVER (PARTITION BY x.q_id
                      ORDER BY $qd2, x.vec_id) AS rn
             FROM x$h x
             JOIN ev v ON v.vec_id = x.vec_id
             JOIN qs q ON q.q_id = x.q_id)
           WHERE rn <= $beam)"""
    }.mkString(", ")
    s"""WITH nb AS (
         SELECT greatest(1, CAST(count(*) AS BIGINT) // $degree) AS b
         FROM embeddings
       ), ev AS MATERIALIZED (
         SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         FROM embeddings
       ), bk AS ($bandUnion
       ), e0 AS (
         SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         FROM bk a JOIN bk b ON a.r = b.r AND a.bkt = b.bkt
         WHERE a.vec_id <> b.vec_id
       ), e0rn AS MATERIALIZED (
         SELECT src, dst,
                row_number() OVER (PARTITION BY src ORDER BY
                  ('0x' || substr(md5('${salt}e:' || CAST(src AS VARCHAR)
                    || ':' || CAST(dst AS VARCHAR)), 1, 14))::BIGINT,
                  dst) AS rn
         FROM e0
       ), g0 AS MATERIALIZED (
         SELECT src, dst FROM e0rn WHERE rn <= $degree
       ), $roundCtes,
       gfin AS MATERIALIZED (
         SELECT src, dst FROM g$rounds
         UNION
         SELECT src, dst FROM e0rn
         WHERE rn <= ${math.min(longLinks, degree)}
       ),
       qs AS (
         SELECT vec_id AS q_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS qvq
         FROM embeddings WHERE vec_id % $qMod = 0
       ), b0 AS (
         SELECT q_id, (SELECT min(vec_id) FROM embeddings) AS vec_id
         FROM qs
       ), $hopCtes,
       sc AS (
         SELECT b.q_id, b.vec_id, $qd2 AS adc_dist2
         FROM b$hops b
         JOIN ev v ON v.vec_id = b.vec_id
         JOIN qs q ON q.q_id = b.q_id
       ),
       ${pqRankTailSql(topK)}"""
  }

  /** q279's oracle: retrain the coarse quantizer and the PQ codebooks
    * (the frozen operating parameters), rebuild both arriving waves —
    * every vector at version 1, every 7th re-embedded as its exact
    * coordinate REVERSAL at version 2 — then replay coarse
    * assignment, frozen-codebook encoding, and the per-(cell, doc)
    * max-version merge including the staleness contract (a migrated
    * doc's version-1 row survives in its OLD cell). */
  private[graft] def pqIndexUpsertOracle: String =
    s"""WITH ${kmeansCtesSql("embeddings", 8, 2, "ivfpqc", prefix = "cq_")},
       ${pqCoreCtes(8, 8, 8, 1, "ivfpq", qMod = 100)},
       corp AS MATERIALIZED (
         SELECT vec_id, CAST(1 AS BIGINT) AS version,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         FROM embeddings
         UNION ALL
         SELECT vec_id, CAST(2 AS BIGINT),
                list_transform(list_reverse(CAST(embedding AS DOUBLE[])),
                  x -> CAST(round(x * 1000000) AS BIGINT))
         FROM embeddings WHERE vec_id % 7 = 0
       ), casg AS MATERIALIZED (
         SELECT vec_id, version, cell FROM (
           SELECT c.vec_id, c.version, k.cell,
                  row_number() OVER (PARTITION BY c.vec_id, c.version
                    ORDER BY
                      CAST(list_sum([(c.vq[j] - k.cvec[j])
                                     * (c.vq[j] - k.cvec[j])
                                     for j in range(1, len(c.vq) + 1)])
                           AS BIGINT) ASC,
                      k.cell ASC) AS rn
           FROM corp c CROSS JOIN cq_c1 k)
         WHERE rn = 1
       ), csub AS (
         SELECT vec_id, version, s.sub,
                vq[s.sub * 8 + 1 : s.sub * 8 + 8] AS qv
         FROM corp CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s
       ), cd AS MATERIALIZED (
         SELECT vec_id, version, sub, code FROM (
           SELECT x.vec_id, x.version, x.sub, b.code,
                  row_number() OVER (PARTITION BY x.vec_id, x.version, x.sub
                    ORDER BY
                      CAST(list_sum([(x.qv[j] - b.cvec[j])
                                     * (x.qv[j] - b.cvec[j])
                                     for j in range(1, len(x.qv) + 1)])
                           AS BIGINT) ASC,
                      b.code ASC) AS rn
           FROM csub x JOIN books b USING (sub))
         WHERE rn = 1
       ), keep AS (
         SELECT vec_id, version, cell FROM casg WHERE version = 2
         UNION ALL
         SELECT a1.vec_id, a1.version, a1.cell
         FROM casg a1 LEFT JOIN casg a2
           ON a2.vec_id = a1.vec_id AND a2.version = 2
          AND a2.cell = a1.cell
         WHERE a1.version = 1 AND a2.vec_id IS NULL
       )
       SELECT k.cell, k.vec_id, k.version, c.sub, c.code
       FROM keep k JOIN cd c
         ON c.vec_id = k.vec_id AND c.version = k.version
       ORDER BY k.cell, k.vec_id, k.version, c.sub"""

  /** q256's oracle: retrain all `m` per-subspace PQ codebooks inside
    * DuckDB (m prefixed [[kmeansCtesSql]] trajectories over sliced
    * embeddings), rebuild the codes and the |Q|·m·k ADC distance
    * table, sum the looked-up entries per (query, vector), and rank
    * — with brute-force integer-micro exact ranks joined in, the
    * q149 measured-recall discipline. */
  private[graft] def pqAdcOracle(m: Int, subDim: Int, k: Int,
      iterations: Int, topK: Int, salt: String): String =
    s"""WITH ${pqCoreCtes(m, subDim, k, iterations, salt)},
       sc AS (
         SELECT d.q_id, c.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_dist2
         FROM codes c JOIN dtab d ON d.sub = c.sub AND d.code = c.code
         GROUP BY d.q_id, c.vec_id
       ),
       ${pqRankTailSql(topK)}"""

  /** q257's oracle: the q256 fragments fronted by a RETRAINED coarse
    * quantizer — probes = nProbe nearest coarse cells per query
    * (exact integer distance, ties to the lowest cell), candidates =
    * the probed cells' members, ADC restricted to candidates. */
  private[graft] def ivfPqOracle(kCells: Int, coarseIters: Int, nProbe: Int,
      m: Int, subDim: Int, kCodes: Int, pqIters: Int, topK: Int,
      coarseSalt: String, pqSalt: String, qMod: Int = 50,
      src: String = "embeddings", preCtes: String = ""): String =
    s"""WITH $preCtes${kmeansCtesSql(src, kCells, coarseIters, coarseSalt,
          prefix = "cq_")},
       ${pqCoreCtes(m, subDim, kCodes, pqIters, pqSalt, qMod, src)},
       probes AS (
         SELECT q_id, cell FROM (
           SELECT q.q_id, c.cell,
                  row_number() OVER (PARTITION BY q.q_id ORDER BY
                    CAST(list_sum([(q.qvq[j] - c.cvec[j]) * (q.qvq[j] - c.cvec[j])
                                   for j in range(1, len(q.qvq) + 1)])
                         AS BIGINT) ASC,
                    c.cell ASC) AS rn
           FROM qs q CROSS JOIN cq_c${coarseIters - 1} c)
         WHERE rn <= $nProbe
       ), cand AS (
         SELECT p.q_id, a.vec_id
         FROM probes p JOIN cq_m$coarseIters a ON a.cell = p.cell
       ), sc AS (
         SELECT d.q_id, c.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_dist2
         FROM cand x
         JOIN codes c ON c.vec_id = x.vec_id
         JOIN dtab d ON d.q_id = x.q_id AND d.sub = c.sub AND d.code = c.code
         GROUP BY d.q_id, c.vec_id
       ),
       ${pqRankTailSql(topK, src)}"""

  /** q265's oracle: RESIDUAL IVF-PQ fully retrained in DuckDB —
    * coarse quantizer, then residuals `v_micro − c_micro` (exact
    * BIGINT, re-expressed as doubles by one exact /1e6) feed the m
    * per-subspace codebook retrains; the ADC table is per
    * (query, probed cell) with the query's OWN residual. Same rank
    * tail as q256/q257 (brute-force exact ranks joined in). */
  private[graft] def ivfPqResidualOracle(kCells: Int, coarseIters: Int,
      nProbe: Int, m: Int, subDim: Int, kCodes: Int, pqIters: Int,
      topK: Int, coarseSalt: String, pqSalt: String,
      qMod: Int = 50): String = {
    val chains = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      kmeansCtesSql(
        s"(SELECT vec_id, embedding[$lo:$hi] AS embedding FROM resid)",
        kCodes, pqIters, s"$pqSalt$s", prefix = s"p${s}_")
    }.mkString(",\n       ")
    val codesUnion = (0 until m).map(s =>
      s"SELECT vec_id, $s AS sub, cell AS code FROM p${s}_m$pqIters")
      .mkString(" UNION ALL ")
    val booksUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, cell AS code, cvec FROM p${s}_c${pqIters - 1}")
      .mkString(" UNION ALL ")
    val qsubUnion = (0 until m).map(s =>
      s"SELECT q_id, cell, $s AS sub, rq[${s * subDim + 1}:${(s + 1) * subDim}] AS qv FROM qres")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtesSql("embeddings", kCells, coarseIters, coarseSalt,
          prefix = "cq_")},
       resid AS (
         SELECT a.vec_id,
                [CAST(a.vq[j] - c.cvec[j] AS DOUBLE) / 1000000.0
                 for j in range(1, len(a.vq) + 1)] AS embedding
         FROM cq_m$coarseIters a
         JOIN cq_c${coarseIters - 1} c USING (cell)
       ),
       $chains,
       codes AS ($codesUnion),
       books AS ($booksUnion),
       qs AS (
         SELECT vec_id AS q_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(round(x * 1000000) AS BIGINT)) AS qvq
         FROM embeddings WHERE vec_id % $qMod = 0
       ), probes AS (
         SELECT q_id, cell, rq FROM (
           SELECT q.q_id, c.cell,
                  [q.qvq[j] - c.cvec[j]
                   for j in range(1, len(q.qvq) + 1)] AS rq,
                  row_number() OVER (PARTITION BY q.q_id ORDER BY
                    CAST(list_sum([(q.qvq[j] - c.cvec[j]) * (q.qvq[j] - c.cvec[j])
                                   for j in range(1, len(q.qvq) + 1)])
                         AS BIGINT) ASC,
                    c.cell ASC) AS rn
           FROM qs q CROSS JOIN cq_c${coarseIters - 1} c)
         WHERE rn <= $nProbe
       ), qres AS (SELECT q_id, cell, rq FROM probes
       ), qsub AS ($qsubUnion
       ), dtab AS (
         SELECT q_id, cell, sub, code,
                CAST(list_sum([(qv[j] - cvec[j]) * (qv[j] - cvec[j])
                               for j in range(1, len(qv) + 1)])
                     AS BIGINT) AS d2
         FROM qsub JOIN books USING (sub)
       ), cand AS (
         SELECT p.q_id, a.vec_id, p.cell
         FROM probes p JOIN cq_m$coarseIters a USING (cell)
       ), sc AS (
         SELECT d.q_id, c.vec_id, CAST(sum(d.d2) AS BIGINT) AS adc_dist2
         FROM cand x
         JOIN codes c ON c.vec_id = x.vec_id
         JOIN dtab d ON d.q_id = x.q_id AND d.cell = x.cell
                    AND d.sub = c.sub AND d.code = c.code
         GROUP BY d.q_id, c.vec_id
       ),
       ${pqRankTailSql(topK)}"""
  }

  /** One unrolled Viterbi DP over the word-frequency CTE `wf`
    * (columns word, cnt), weights from CTE `wCte` (piece, w):
    * `maxWordLen` forward cells (argmin by score then SHORTEST
    * candidate piece — `row_number() ORDER BY s, k`), then a
    * backtrack chain emitting best-path pieces. Ends with CTEs
    * `${P}fin` (word, n, cnt, s, np) and `${P}vc` (piece, vc) —
    * the exact replay of
    * [[graft.functions.UnigramSegmentExpr]]'s DP. */
  private[graft] def unigramDpCtes(P: String, wCte: String,
      maxPieceLen: Int, maxWordLen: Int): String = {
    val dCtes = (1 to maxWordLen).map { i =>
      val branches = (1 to math.min(maxPieceLen, i)).map { k =>
        s"""SELECT b.word, b.n, b.cnt, b.s + v.w AS s,
                   b.np + 1 AS np, $k AS k
            FROM ${P}d${i - k} b JOIN $wCte v
              ON v.piece = substr(b.word, ${i - k + 1}, $k)
            WHERE b.n >= $i"""
      }.mkString(" UNION ALL ")
      s"""${P}d$i AS MATERIALIZED (
           SELECT word, n, cnt, s, np, k, $i AS i FROM (
             SELECT c.*, row_number() OVER (PARTITION BY c.word
               ORDER BY c.s ASC, c.k ASC) AS rn
             FROM ($branches) c) WHERE rn = 1)"""
    }.mkString(", ")
    val dAll = (1 to maxWordLen).map(i => s"SELECT * FROM ${P}d$i")
      .mkString(" UNION ALL ")
    val tCtes = (1 until maxWordLen).map { j =>
      s"""${P}t$j AS MATERIALIZED (
           SELECT t.word, t.cnt, t.pos - d.k AS pos
           FROM ${P}t${j - 1} t JOIN ${P}dall d
             ON d.word = t.word AND d.i = t.pos
           WHERE t.pos > 0)"""
    }.mkString(", ")
    val tAll = (0 until maxWordLen).map(j => s"SELECT * FROM ${P}t$j")
      .mkString(" UNION ALL ")
    s"""${P}d0 AS MATERIALIZED (
         SELECT word, length(word) AS n, cnt, CAST(0 AS BIGINT) AS s,
                CAST(0 AS BIGINT) AS np, 0 AS k, 0 AS i FROM wf),
       $dCtes,
       ${P}dall AS MATERIALIZED ($dAll),
       ${P}fin AS MATERIALIZED (SELECT word, n, cnt, s, np FROM ${P}dall WHERE i = n),
       ${P}t0 AS MATERIALIZED (SELECT word, cnt, n AS pos FROM ${P}fin),
       $tCtes,
       ${P}tall AS MATERIALIZED ($tAll),
       ${P}pieces AS (
         SELECT t.word, t.cnt, substr(t.word, t.pos - d.k + 1, d.k) AS piece
         FROM ${P}tall t JOIN ${P}dall d
           ON d.word = t.word AND d.i = t.pos
         WHERE t.pos > 0),
       ${P}vc AS MATERIALIZED (
         SELECT piece, CAST(sum(cnt) AS BIGINT) AS vc
         FROM ${P}pieces GROUP BY piece)"""
  }

  /** One hard-EM round r: the DP under v(r−1), then the add-one
    * micro-ln re-estimate into CTE `v$r`. */
  private def unigramRoundCtes(r: Int, maxPieceLen: Int,
      maxWordLen: Int): String =
    s"""${unigramDpCtes(s"r${r}_", s"v${r - 1}", maxPieceLen, maxWordLen)},
       r${r}tot AS (SELECT CAST(sum(vc) AS BIGINT) AS tot FROM r${r}_vc),
       v$r AS MATERIALIZED (
         SELECT vo.piece,
                CAST(round(-ln(CAST(coalesce(c.vc, 0) + 1 AS DOUBLE)
                    / CAST(t.tot + vn.v AS DOUBLE)) * 1e6) AS BIGINT) AS w
         FROM vocab vo
         LEFT JOIN r${r}_vc c ON c.piece = vo.piece
         CROSS JOIN r${r}tot t CROSS JOIN vn)"""

  /** The unigram-LM training chain mirroring
    * [[graft.operators.UnigramLm.trainViterbiEm]]: word-frequency
    * table, capped substring seed with the single-char coverage
    * union, frequency-seeded micro-ln costs, and `rounds` unrolled
    * hard-EM iterations — every Viterbi DP cell replayed. Ends with
    * `vocab`, `r${rounds}_vc` and `v$rounds`; used WITHOUT a
    * leading WITH. */
  private[graft] def unigramPrefixCtes(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int,
      src: String = "documents"): String =
    s"""${unigramSeedCtes(maxPieceLen, vocabCap, maxWordLen, src)},
       ${(1 to rounds).map(r =>
           unigramRoundCtes(r, maxPieceLen, maxWordLen)).mkString(", ")}"""

  /** The corpus-to-seed half of [[unigramPrefixCtes]]: word table,
    * capped substring seed with single-char coverage, seeded costs.
    * Ends with `dw`, `wf`, `vocab`, `vn`, `v0`; no EM rounds.
    * `src` is the (doc_id, text) relation the trainer reads —
    * `documents` for the q267 family, the selected-corpus CTE for
    * the v6 capstone. */
  private[graft] def unigramSeedCtes(maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int,
      src: String = "documents"): String =
    s"""dw AS MATERIALIZED (
         SELECT doc_id, word FROM (
           SELECT doc_id,
                  unnest(string_split_regex(lower(text), '\\s+')) AS word
           FROM $src)
         WHERE regexp_full_match(word, '[a-z]+')
           AND length(word) <= $maxWordLen
       ), wf AS MATERIALIZED (
         SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM dw GROUP BY word
       ), sub AS (
         SELECT substr(word, st, k) AS piece, cnt FROM (
           SELECT word, cnt, st,
                  unnest(range(1, least($maxPieceLen,
                    length(word) - st + 1) + 1)) AS k
           FROM (SELECT word, cnt,
                        unnest(range(1, length(word) + 1)) AS st
                 FROM wf))
       ), pc AS (
         SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM sub GROUP BY piece
       ), vocab AS MATERIALIZED (
         SELECT piece, c FROM
           (SELECT piece, c FROM pc ORDER BY c DESC, piece LIMIT $vocabCap)
         UNION
         SELECT piece, c FROM pc WHERE length(piece) = 1
       ), vn AS MATERIALIZED (
         SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c) AS BIGINT) AS tot
         FROM vocab
       ), v0 AS MATERIALIZED (
         SELECT piece, CAST(round(-ln(CAST(c AS DOUBLE)
             / CAST(vn.tot AS DOUBLE)) * 1e6) AS BIGINT) AS w
         FROM vocab, vn
       )"""

  /** q267: the fitted unigram-LM vocabulary, fully retrained. */
  private[graft] def unigramTrainOracle(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int): String =
    s"""WITH ${unigramPrefixCtes(rounds, maxPieceLen, vocabCap, maxWordLen)}
       SELECT vo.piece, vo.c AS seed_count,
              CAST(coalesce(c.vc, 0) AS BIGINT) AS viterbi_count,
              v.w AS w_micros
       FROM vocab vo
       LEFT JOIN r${rounds}_vc c ON c.piece = vo.piece
       JOIN v$rounds v ON v.piece = vo.piece
       ORDER BY vo.piece"""

  /** q268: per-doc encode stats under the retrained final costs —
    * one more unrolled DP (prefix `e_`), rolled up per document. */
  private[graft] def unigramEncodeOracle(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int): String =
    s"""WITH ${unigramPrefixCtes(rounds, maxPieceLen, vocabCap, maxWordLen)},
       ${unigramDpCtes("e_", s"v$rounds", maxPieceLen, maxWordLen)}
       SELECT dw.doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(length(dw.word)) AS BIGINT) AS char_tokens,
              CAST(sum(f.np) AS BIGINT) AS unigram_tokens,
              CAST(sum(f.s) AS BIGINT) AS cost_micros
       FROM dw JOIN e_fin f ON f.word = dw.word
       GROUP BY dw.doc_id ORDER BY dw.doc_id"""

  /** One PRUNED hard-EM round r: the DP under v(r−1) over the
    * current vocabulary `vocab{r-1}`, the exact floor-fraction prune
    * of multi-char pieces by (viterbi count ASC, piece ASC), then the
    * add-one re-estimate over SURVIVORS only — the replay of
    * [[graft.operators.UnigramLm.trainViterbiEmPruned]]'s round. */
  private[graft] def unigramPrunedRoundCtes(r: Int, maxPieceLen: Int,
      maxWordLen: Int, pruneNum: Int, pruneDen: Int): String =
    s"""${unigramDpCtes(s"p${r}_", s"v${r - 1}", maxPieceLen, maxWordLen)},
       p${r}cnt AS (
         SELECT vo.piece, CAST(coalesce(c.vc, 0) AS BIGINT) AS vc
         FROM vocab${r - 1} vo LEFT JOIN p${r}_vc c ON c.piece = vo.piece
       ), p${r}m AS (
         SELECT CAST(count(*) AS BIGINT) AS m FROM p${r}cnt
         WHERE length(piece) > 1
       ), p${r}rk AS (
         SELECT piece, vc,
                row_number() OVER (ORDER BY vc ASC, piece ASC) AS rk
         FROM p${r}cnt WHERE length(piece) > 1
       ), vocab$r AS MATERIALIZED (
         SELECT piece, vc FROM p${r}rk, p${r}m
         WHERE rk > (m * $pruneNum) // $pruneDen
         UNION ALL
         SELECT piece, vc FROM p${r}cnt WHERE length(piece) = 1
       ), p${r}tot AS (
         SELECT CAST(sum(vc) AS BIGINT) AS tot,
                CAST(count(*) AS BIGINT) AS v
         FROM vocab$r
       ), v$r AS MATERIALIZED (
         SELECT vo.piece,
                CAST(round(-ln(CAST(vo.vc + 1 AS DOUBLE)
                    / CAST(t.tot + t.v AS DOUBLE)) * 1e6) AS BIGINT) AS w
         FROM vocab$r vo CROSS JOIN p${r}tot t)"""

  /** q277: the pruned unigram trainer fully retrained — seed, then
    * `rounds` DP + prune + re-estimate rounds, each prune decision
    * replayed with the same floor fraction and tie order. */
  private[graft] def unigramPrunedOracle(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int, pruneNum: Int,
      pruneDen: Int): String =
    s"""WITH ${unigramSeedCtes(maxPieceLen, vocabCap, maxWordLen)},
       vocab0 AS (SELECT piece, c AS vc FROM vocab),
       ${(1 to rounds).map(r => unigramPrunedRoundCtes(r, maxPieceLen,
           maxWordLen, pruneNum, pruneDen)).mkString(", ")}
       SELECT vo.piece, vo.vc AS viterbi_count, v.w AS w_micros
       FROM vocab$rounds vo JOIN v$rounds v ON v.piece = vo.piece
       ORDER BY vo.piece"""

  /** q283: per-SOURCE fertility audit of the PRUNED tokenizer —
    * retrains the q277 shrink loop, replays the encode DP under the
    * final pruned costs, and rolls word/char/piece masses up per
    * source with the exact integer fertility ratios. */
  private[graft] def unigramFertilityOracle(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int, pruneNum: Int,
      pruneDen: Int): String =
    s"""WITH ${unigramSeedCtes(maxPieceLen, vocabCap, maxWordLen)},
       vocab0 AS (SELECT piece, c AS vc FROM vocab),
       ${(1 to rounds).map(r => unigramPrunedRoundCtes(r, maxPieceLen,
           maxWordLen, pruneNum, pruneDen)).mkString(", ")},
       ${unigramDpCtes("e_", s"v$rounds", maxPieceLen, maxWordLen)}
       SELECT d.source,
              CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(length(dw.word)) AS BIGINT) AS char_tokens,
              CAST(sum(f.np) AS BIGINT) AS unigram_tokens,
              CAST(sum(f.s) AS BIGINT) AS cost_micros,
              CAST((sum(f.np) * 1000000) // count(*) AS BIGINT)
                AS pieces_per_word_micros,
              CAST((sum(length(dw.word)) * 1000000) // sum(f.np)
                   AS BIGINT) AS chars_per_piece_micros
       FROM dw JOIN e_fin f ON f.word = dw.word
       JOIN documents d ON d.doc_id = dw.doc_id
       GROUP BY d.source ORDER BY d.source"""

  /** q275: retrain the unigram tokenizer, replay the encode DP, then
    * re-derive the ORDERED per-word piece stream from the backtrack
    * chain (`e_tall` joined to the argmin cells `e_dall` — ascending
    * end position = left-to-right piece order), assign 1-based
    * sorted-piece token ids, append the EOS id 0 per doc, and re-pack
    * per split shard with one ordered string_agg digest per
    * sequence. */
  private[graft] def unigramPackOracle(rounds: Int, maxPieceLen: Int,
      vocabCap: Int, maxWordLen: Int, budget: Int): String =
    s"""WITH ${unigramPrefixCtes(rounds, maxPieceLen, vocabCap, maxWordLen)},
       ${unigramDpCtes("e_", s"v$rounds", maxPieceLen, maxWordLen)},
       tid AS MATERIALIZED (
         SELECT piece,
                CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS tid
         FROM v$rounds
       ), e_op AS MATERIALIZED (
         SELECT t.word, t.pos,
                substr(t.word, t.pos - d.k + 1, d.k) AS piece
         FROM e_tall t JOIN e_dall d
           ON d.word = t.word AND d.i = t.pos
         WHERE t.pos > 0
       ), dws AS (
         SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         FROM documents
       ), dwo AS MATERIALIZED (
         SELECT doc_id, CAST(i AS BIGINT) AS word_pos, word FROM (
           SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM (
             SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
             FROM dws))
         WHERE regexp_full_match(word, '[a-z]+')
           AND length(word) <= $maxWordLen
       ), tok AS (
         SELECT w.doc_id, CAST(0 AS BIGINT) AS is_eos, w.word_pos,
                p.pos AS piece_pos, t.tid
         FROM dwo w
         JOIN e_op p ON p.word = w.word
         JOIN tid t ON t.piece = p.piece
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         FROM documents
       ), spl AS (
         SELECT doc_id,
                CASE WHEN hs < 90 THEN 'train'
                     WHEN hs < 95 THEN 'valid' ELSE 'test' END AS split
         FROM (SELECT doc_id, ${splitHashSql("graft", 100)} AS hs
               FROM documents)
       ), st AS (
         SELECT s.split, k.doc_id, k.is_eos, k.tid,
                row_number() OVER (PARTITION BY s.split
                  ORDER BY k.doc_id, k.is_eos, k.word_pos, k.piece_pos)
                  AS gpos
         FROM tok k JOIN spl s USING (doc_id)
       )
       SELECT split, CAST((gpos - 1) // $budget AS BIGINT) AS seq_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(is_eos) AS BIGINT) AS n_docs_closed,
              min(doc_id) AS first_doc_id,
              max(doc_id) AS last_doc_id,
              md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos))
                AS ids_md5
       FROM st GROUP BY split, (gpos - 1) // $budget
       ORDER BY split, seq_id"""

  /** q282's allocation chain (after [[sbHeldoutCtes]]): per-source
    * token masses + LM quality ranks + the greedy ≤4-epoch budget
    * fill — ends in `al(source, n_tokens, nll_nanos, q_rank,
    * served_tokens, epochs_micros, budget)`. Shared by the q290
    * epoch-schedule oracle. */
  private[graft] val epochAllocCtes: String =
    s"""st AS (
         SELECT source,
                CAST(sum(len(list_filter(
                  string_split_regex(lower(text), '\\s+'),
                  t -> t <> ''))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source
       ), q AS (
         SELECT d.source,
                CAST(((-sum(sc.lp_micros)) * 1000)
                     // sum(sc.n_trigrams) AS BIGINT) AS nll_nanos
         FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         GROUP BY d.source
       ), b AS (
         SELECT CAST(sum(n_tokens) * 2 AS BIGINT) AS budget FROM st
       ), r AS (
         SELECT st.source, st.n_tokens, q.nll_nanos,
                row_number() OVER (ORDER BY q.nll_nanos, st.source)
                  AS q_rank,
                st.n_tokens * 4 AS cap
         FROM st JOIN q ON q.source = st.source
       ), c AS (
         SELECT r.*, b.budget,
                coalesce(sum(cap) OVER (ORDER BY q_rank
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS bef
         FROM r CROSS JOIN b
       ), al AS MATERIALIZED (
         SELECT source, n_tokens, nll_nanos,
                CAST(q_rank AS BIGINT) AS q_rank,
                CAST(greatest(0, least(cap, budget - bef))
                     AS BIGINT) AS served_tokens,
                CAST((CAST(greatest(0, least(cap, budget - bef))
                           AS HUGEINT) * 1000000)
                     // CAST(n_tokens AS HUGEINT) AS BIGINT)
                  AS epochs_micros,
                budget
         FROM c
       )"""

  /** q292's oracle: rebuild the corpus signature index AND the
    * arriving docs' signatures, replay the (band, bucket) probes and
    * the full-signature agreement argmax, admit on best_agree <
    * rejectAgree. The arrival transforms are stated inline —
    * verbatim the [[graft.streaming.StreamOps.neardupArrivals]]
    * plants. */
  private[graft] def neardupGateOracle(rejectAgree: Int): String = {
    val shingleCte = (w: String) =>
      s"""SELECT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ')
                      for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM $w"""
    val bandUnnest = (0 until 4).map(b =>
      s"{'band': $b, 'bucket': md5(concat_ws('|', sig_${2 * b}, sig_${2 * b + 1}))}")
      .mkString(",\n               ")
    val eqSum = (0 until 8)
      .map(i => s"CASE WHEN ns.sig_$i = isg.sig_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH nd AS (
         SELECT doc_id + 50000000 AS doc_id,
                text || ' graft crawl refresh token' AS text
         FROM documents WHERE doc_id % 40 = 0
         UNION ALL
         SELECT doc_id + 70000000, text
         FROM documents WHERE doc_id % 50 = 25
         UNION ALL
         SELECT doc_id + 60000000,
                'novel crawl page ' || CAST(doc_id AS VARCHAR)
                  || ' unseen content entirely fresh tokens'
         FROM documents WHERE doc_id % 97 = 0
       ), iw AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words
         FROM documents
       ), ish AS (${shingleCte("iw")}
       ), isig AS MATERIALIZED (
         SELECT doc_id, $minhashSigsSql FROM ish GROUP BY doc_id
       ), nw AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words
         FROM nd
       ), nsh AS (${shingleCte("nw")}
       ), nsig AS MATERIALIZED (
         SELECT doc_id, $minhashSigsSql FROM nsh GROUP BY doc_id
       ), ibb AS (
         SELECT doc_id, b.band AS band, b.bucket AS bucket FROM (
           SELECT doc_id, unnest([
               $bandUnnest]) AS b
           FROM isig)
       ), nbb AS (
         SELECT doc_id, b.band AS band, b.bucket AS bucket FROM (
           SELECT doc_id, unnest([
               $bandUnnest]) AS b
           FROM nsig)
       ), hits AS (
         SELECT DISTINCT n.doc_id AS n_id, i.doc_id AS i_id
         FROM nbb n JOIN ibb i
           ON i.band = n.band AND i.bucket = n.bucket
       ), ag AS (
         SELECT h.n_id, h.i_id, CAST($eqSum AS BIGINT) AS agree
         FROM hits h
         JOIN nsig ns ON ns.doc_id = h.n_id
         JOIN isig isg ON isg.doc_id = h.i_id
       ), best AS (
         SELECT n_id, n_partners, i_id AS best_match_id,
                agree AS best_agree
         FROM (SELECT n_id, i_id, agree,
                      CAST(count(*) OVER (PARTITION BY n_id) AS BIGINT)
                        AS n_partners,
                      row_number() OVER (PARTITION BY n_id
                        ORDER BY agree DESC, i_id ASC) AS rn
               FROM ag)
         WHERE rn = 1
       )
       SELECT nd.doc_id, CAST((nd.doc_id // 20) % 2 AS BIGINT) AS wave,
              coalesce(b.n_partners, 0) AS n_partners,
              coalesce(b.best_match_id, -1) AS best_match_id,
              coalesce(b.best_agree, 0) AS best_agree,
              coalesce(b.best_agree, 0) < $rejectAgree AS admitted
       FROM nd LEFT JOIN best b ON b.n_id = nd.doc_id
       ORDER BY nd.doc_id"""
  }

  /** q286's oracle: retrain the scoring LM over the hash-90%, score
    * every doc, then replay the DoReMi-lite rounds unrolled — each
    * round one per-source hardest-slice rank (`sel_r`), per-source
    * and global emphasized means, and the clamped multiplicative
    * update. Negative-division parity: the step uses the
    * `(x + SHIFT) // d − SHIFT/d` floor form, which equals Scala's
    * `Math.floorDiv` for any sign of x (SHIFT chosen divisible by
    * etaDen). */
  private[graft] def doremiOracle(rounds: Int, etaDen: Long,
      stepCap: Long): String = {
    val SHIFT = 10000000000000L
    require(SHIFT % etaDen == 0, "etaDen must divide the floor shift")
    val shiftDiv = SHIFT / etaDen
    val roundCtes = (1 to rounds).map { r =>
      s"""sel$r AS (
           SELECT source, nll FROM (
             SELECT d0.source, d0.nll,
                    row_number() OVER (PARTITION BY d0.source
                      ORDER BY d0.nll DESC, d0.doc_id) AS rn,
                    greatest(1, (c.n * w.w) // 1000000) AS k
             FROM d0
             JOIN cnt c ON c.source = d0.source
             JOIN w${r - 1} w ON w.source = d0.source) t
           WHERE rn <= k
         ), a$r AS (
           SELECT source, CAST(sum(nll) AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS c
           FROM sel$r GROUP BY source
         ), g$r AS (
           SELECT CAST(sum(s) AS BIGINT) AS gs,
                  CAST(sum(c) AS BIGINT) AS gc FROM a$r
         ), w$r AS MATERIALIZED (
           SELECT a.source,
                  CAST(greatest(1, least(1000000,
                    (w.w * (1000000 + greatest(-$stepCap, least($stepCap,
                      ((a.s // a.c) - (g.gs // g.gc) + $SHIFT) // $etaDen
                        - $shiftDiv)))) // 1000000)) AS BIGINT) AS w
           FROM a$r a JOIN w${r - 1} w ON w.source = a.source
           CROSS JOIN g$r g
         )"""
    }.mkString(", ")
    val unionSel = (1 to rounds).map { r =>
      s"""SELECT source, CAST($r AS BIGINT) AS round,
              w AS w_micros,
              CAST((w * 1000000)
                   // (SELECT CAST(sum(w) AS BIGINT) FROM w$r)
                   AS BIGINT) AS share_micros
          FROM w$r"""
    }.mkString(" UNION ALL ")
    s"""WITH ${sbScoreCtes("TRUE")},
       d0 AS MATERIALIZED (
         SELECT sc.doc_id, d.source,
                CAST(((-sc.lp_micros) * 1000) // sc.n_trigrams
                     AS BIGINT) AS nll
         FROM sc JOIN documents d ON d.doc_id = sc.doc_id
       ), cnt AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n
         FROM d0 GROUP BY source
       ), w0 AS (
         SELECT source, CAST(1000000 AS BIGINT) AS w FROM cnt
       ), $roundCtes
       SELECT * FROM ($unionSel) u ORDER BY source, round"""
  }

  /** q291: the q275 pack replayed under the CURRICULUM order — the
    * sb LM retrained and every doc's per-trigram NLL computed, then
    * the split-shard pack windows order by (difficulty, doc_id)
    * instead of doc_id, with each sequence's difficulty range in the
    * result. */
  private[graft] def unigramCurriculumPackOracle(rounds: Int,
      maxPieceLen: Int, vocabCap: Int, maxWordLen: Int,
      budget: Int): String =
    s"""WITH ${sbScoreCtes("TRUE")},
       nl AS (
         SELECT doc_id, CAST(((-lp_micros) * 1000) // n_trigrams
                             AS BIGINT) AS nll
         FROM sc
       ), dif AS MATERIALIZED (
         SELECT d.doc_id, coalesce(nl.nll, 0) AS dif
         FROM documents d LEFT JOIN nl ON nl.doc_id = d.doc_id
       ),
       ${unigramPrefixCtes(rounds, maxPieceLen, vocabCap, maxWordLen)},
       ${unigramDpCtes("e_", s"v$rounds", maxPieceLen, maxWordLen)},
       tid AS MATERIALIZED (
         SELECT piece,
                CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS tid
         FROM v$rounds
       ), e_op AS MATERIALIZED (
         SELECT t.word, t.pos,
                substr(t.word, t.pos - d.k + 1, d.k) AS piece
         FROM e_tall t JOIN e_dall d
           ON d.word = t.word AND d.i = t.pos
         WHERE t.pos > 0
       ), dws AS (
         SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         FROM documents
       ), dwo AS MATERIALIZED (
         SELECT doc_id, CAST(i AS BIGINT) AS word_pos, word FROM (
           SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM (
             SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
             FROM dws))
         WHERE regexp_full_match(word, '[a-z]+')
           AND length(word) <= $maxWordLen
       ), tok AS (
         SELECT w.doc_id, CAST(0 AS BIGINT) AS is_eos, w.word_pos,
                p.pos AS piece_pos, t.tid
         FROM dwo w
         JOIN e_op p ON p.word = w.word
         JOIN tid t ON t.piece = p.piece
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         FROM documents
       ), spl AS (
         SELECT doc_id,
                CASE WHEN hs < 90 THEN 'train'
                     WHEN hs < 95 THEN 'valid' ELSE 'test' END AS split
         FROM (SELECT doc_id, ${splitHashSql("graft", 100)} AS hs
               FROM documents)
       ), st AS (
         SELECT s.split, k.doc_id, k.is_eos, k.tid, f.dif,
                row_number() OVER (PARTITION BY s.split
                  ORDER BY f.dif, k.doc_id, k.is_eos, k.word_pos,
                           k.piece_pos) AS gpos
         FROM tok k
         JOIN spl s USING (doc_id)
         JOIN dif f USING (doc_id)
       )
       SELECT split, CAST((gpos - 1) // $budget AS BIGINT) AS seq_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(is_eos) AS BIGINT) AS n_docs_closed,
              min(doc_id) AS first_doc_id,
              max(doc_id) AS last_doc_id,
              md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos))
                AS ids_md5,
              CAST(min(dif) AS BIGINT) AS min_difficulty,
              CAST(max(dif) AS BIGINT) AS max_difficulty
       FROM st GROUP BY split, (gpos - 1) // $budget
       ORDER BY split, seq_id"""

  /** The encode+pack tail for a corpus whose relation CARRIES its own
    * `split` column (the v6 capstone's selected corpus): the q275
    * encode-DP/backtrack/id-assignment/packing machinery, minus the
    * leading WITH and with `$src(doc_id, text, split)` in place of
    * `documents` + the hash split. Must follow [[unigramPrefixCtes]]
    * (same src) in the caller's WITH chain. */
  private[graft] def unigramPackTailSql(rounds: Int, maxPieceLen: Int,
      maxWordLen: Int, budget: Int, src: String): String =
    s"""${unigramDpCtes("e_", s"v$rounds", maxPieceLen, maxWordLen)},
       tid AS MATERIALIZED (
         SELECT piece,
                CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS tid
         FROM v$rounds
       ), e_op AS MATERIALIZED (
         SELECT t.word, t.pos,
                substr(t.word, t.pos - d.k + 1, d.k) AS piece
         FROM e_tall t JOIN e_dall d
           ON d.word = t.word AND d.i = t.pos
         WHERE t.pos > 0
       ), dws AS (
         SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         FROM $src
       ), dwo AS MATERIALIZED (
         SELECT doc_id, CAST(i AS BIGINT) AS word_pos, word FROM (
           SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM (
             SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
             FROM dws))
         WHERE regexp_full_match(word, '[a-z]+')
           AND length(word) <= $maxWordLen
       ), tok AS (
         SELECT w.doc_id, CAST(0 AS BIGINT) AS is_eos, w.word_pos,
                p.pos AS piece_pos, t.tid
         FROM dwo w
         JOIN e_op p ON p.word = w.word
         JOIN tid t ON t.piece = p.piece
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         FROM $src
       ), st AS (
         SELECT s.split, k.doc_id, k.is_eos, k.tid,
                row_number() OVER (PARTITION BY s.split
                  ORDER BY k.doc_id, k.is_eos, k.word_pos, k.piece_pos)
                  AS gpos
         FROM tok k JOIN $src s USING (doc_id)
       )
       SELECT split, CAST((gpos - 1) // $budget AS BIGINT) AS seq_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(is_eos) AS BIGINT) AS n_docs_closed,
              min(doc_id) AS first_doc_id,
              max(doc_id) AS last_doc_id,
              md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos))
                AS ids_md5
       FROM st GROUP BY split, (gpos - 1) // $budget
       ORDER BY split, seq_id"""

  /** The q269 v2 fragment CTEs (top source-overlap pair, length
    * quantiles, raw-text PII counts, near-dup cluster mass) + select
    * list + FROM join list — shared verbatim by the q289 v3 card,
    * which appends its fertility/LM fragments. */
  private[graft] def datasheetV2FragCtes: String = {
    val piiCounts = graft.operators.Scrub.piiPatterns
      .map { case (cat, pat, _) =>
        s"CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS n_pii_$cat"
      }.mkString(",\n                ")
    s"""shw AS (
           SELECT source, string_split_regex(text, '\\s+') AS words
           FROM documents
         ), shc AS (
           SELECT DISTINCT source, shingle FROM (
             SELECT source, unnest(
               CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                    ELSE [array_to_string(words[i:i+2], ' ')
                          for i in range(1, len(words) - 1)]
               END) AS shingle
             FROM shw)
         ), topov AS (
           SELECT a.source AS top_ov_source_a, b.source AS top_ov_source_b,
                  CAST(count(*) AS BIGINT) AS top_ov_n_common
           FROM shc a JOIN shc b
             ON a.shingle = b.shingle AND a.source < b.source
           GROUP BY 1, 2
           ORDER BY top_ov_n_common DESC, 1, 2 LIMIT 1
         ), qnt AS (
           SELECT quantile_cont(n_chars, 0.5) AS p50_chars,
                  quantile_cont(n_chars, 0.9) AS p90_chars
           FROM documents
         ), pii AS (
           SELECT $piiCounts FROM documents
         ), ndw AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS words
           FROM documents
         ), ndsh AS (
           SELECT doc_id, unnest(
             CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                  ELSE [array_to_string(words[i:i+2], ' ')
                        for i in range(1, len(words) - 1)]
             END) AS shingle
           FROM ndw
         ), ndsig AS (
           SELECT doc_id, $minhashSigsSql FROM ndsh GROUP BY doc_id
         ), nd0 AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs
           FROM ndsig
           GROUP BY sig_0, sig_1, sig_2, sig_3, sig_4, sig_5, sig_6, sig_7
           HAVING count(*) > 1
         ), nd AS (
           SELECT CAST(coalesce(sum(n_docs - 1), 0) AS BIGINT)
                    AS n_neardup_excess,
                  CAST(count(*) AS BIGINT) AS n_neardup_clusters
           FROM nd0
         )"""
  }

  private[graft] def datasheetV2Select: String =
    s"""$datasheetBaseSelect,
                topov.top_ov_source_a, topov.top_ov_source_b,
                topov.top_ov_n_common, qnt.p50_chars, qnt.p90_chars,
                pii.*, nd.n_neardup_excess, nd.n_neardup_clusters"""

  private[graft] val datasheetV2From: String =
    """agg CROSS JOIN ts CROSS JOIN topov CROSS JOIN qnt
              CROSS JOIN pii CROSS JOIN nd"""

  /** The q262 datasheet card's shared CTE chain (topic tagging via
    * replace arithmetic, the one-row corpus aggregate `agg`, the
    * dominant-source row `ts`) and its select list — reused verbatim
    * by the q269 v2 card, which appends its fragment CTEs. */
  private[graft] def datasheetBaseCtes: String = {
    val cats = topicCategories.sortBy(_._1)
    val catCols = cats.map { case (name, pats) =>
      val sum = pats.map(p =>
        s"(length(t) - length(replace(t, '$p', ''))) // ${p.length}")
        .mkString(" + ")
      s"CAST($sum AS BIGINT) AS hits_$name"
    }.mkString(", ")
    val names = cats.map(_._1)
    val m = "greatest(" + names.map(n => s"hits_$n").mkString(", ") + ")"
    val pick = names.map(n => s"WHEN hits_$n = $m THEN '$n'").mkString(" ")
    s"""d AS (
         SELECT doc_id, text, lang, source, n_chars, lower(text) AS t
         FROM documents
       ), h AS (
         SELECT doc_id, text, lang, source, n_chars, $catCols FROM d
       ), tg AS (
         SELECT *, CASE WHEN $m = 0 THEN 'none'
                        ELSE CASE $pick END END AS topic
         FROM h
       ), agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(len(string_split_regex(text, '\\s+')))
                     AS BIGINT) AS n_ws_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
                CAST(count(DISTINCT md5(text)) AS BIGINT)
                  AS n_distinct_texts,
                CAST(sum(CASE WHEN topic = 'compute' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_topic_compute,
                CAST(sum(CASE WHEN topic = 'speed' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_topic_speed,
                CAST(sum(CASE WHEN topic = 'storage' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_topic_storage,
                CAST(sum(CASE WHEN topic = 'none' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_topic_none
         FROM tg
       ), ts AS (
         SELECT source AS top_source,
                CAST(count(*) AS BIGINT) AS top_source_n
         FROM documents GROUP BY source
         ORDER BY count(*) DESC, source LIMIT 1
       )"""
  }

  private[graft] def datasheetBaseSelect: String =
    """agg.*,
       n_docs - n_distinct_texts AS n_exact_dup_docs,
       n_chars_sum * 1000000 // n_docs AS mean_chars_micros,
       ts.top_source, ts.top_source_n"""

  /** q270's oracle (also embedded by the q274 capstone as a scoped
    * subquery): per-doc Gopher repetition masses + the keep flag. */
  private[graft] def repetitionGateOracle: String = {
        def gramCtes(n: Int): String =
          s"""g$n AS (
               SELECT doc_id, nc, unnest(
                 CASE WHEN len(words) >= $n
                      THEN [array_to_string(words[i:i+${n - 1}], ' ')
                            for i in range(1, len(words) - ${n - 2})]
                      ELSE [] END) AS g
               FROM w
             ), c$n AS (
               SELECT doc_id, nc, g, CAST(count(*) AS BIGINT) AS c
               FROM g$n GROUP BY 1, 2, 3
             )"""
        val tops = Seq(2, 3, 4).map(n =>
          s"""t$n AS (
               SELECT doc_id, (c * length(g) * 1000000) // nc AS m FROM (
                 SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY c DESC, g ASC) AS rn FROM c$n)
               WHERE rn = 1)""").mkString(", ")
        val dups = Seq(5, 6).map(n =>
          s"""d$n AS (
               SELECT doc_id,
                      (CAST(sum(CASE WHEN c >= 2 THEN c * length(g)
                                     ELSE 0 END) AS BIGINT) * 1000000)
                        // max(nc) AS m
               FROM c$n GROUP BY doc_id)""").mkString(", ")
        s"""WITH w AS (
             SELECT doc_id, length(text) AS nc,
                    string_split_regex(lower(text), '\\s+') AS words
             FROM documents
           ), ${Seq(2, 3, 4, 5, 6).map(gramCtes).mkString(", ")},
           $tops, $dups
           SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
                  coalesce(t2.m, 0) AS top2_mass_micros,
                  coalesce(t3.m, 0) AS top3_mass_micros,
                  coalesce(t4.m, 0) AS top4_mass_micros,
                  coalesce(d5.m, 0) AS dup5_mass_micros,
                  coalesce(d6.m, 0) AS dup6_mass_micros,
                  (coalesce(t2.m, 0) < 200000 AND coalesce(t3.m, 0) < 180000
                   AND coalesce(t4.m, 0) < 160000
                   AND coalesce(d5.m, 0) < 150000
                   AND coalesce(d6.m, 0) < 140000) AS gopher_keep
           FROM documents d
           LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
           LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
           LEFT JOIN d6 USING (doc_id)
           ORDER BY d.doc_id"""
      }

  private[graft] def kmeansOracle(k: Int, iterations: Int): String =
    s"""WITH ${kmeansCtesSql("embeddings", k, iterations, "km")}
       SELECT m.vec_id, m.cell, m.dist AS dist2_q, s.cell_n
       FROM m$iterations m JOIN (
         SELECT cell, CAST(count(*) AS BIGINT) AS cell_n
         FROM m$iterations GROUP BY cell) s USING (cell)
       ORDER BY m.vec_id"""

  /** The q121 planted-twin relation: every 25th embedding gets a
    * near-identical copy (one coordinate +0.01) at vec_id+100000 —
    * the semantic-duplicate workload, mirrored exactly in Spark by
    * [[embeddingsWithTwins]]. */
  private[graft] def twinsCteSql: String =
    """twins AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
         FROM embeddings
         UNION ALL
         SELECT vec_id + 100000,
                [CASE WHEN j - 1 = vec_id % 64 THEN emb[j] + 0.01
                      ELSE emb[j] END
                 for j in range(1, len(emb) + 1)]
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id % 25 = 0)
       )"""

  /** SemDeDup oracle: replay the k-means over the twinned relation,
    * then the within-cell exact-integer cosine pair test in HUGEINT
    * (Spark does the same comparison in DECIMAL(38,0)). */
  private[graft] def semanticNearDupOracle(k: Int, iterations: Int,
      tauNum: Int, tauDen: Int): String =
    s"""WITH $twinsCteSql, ${kmeansCtesSql("twins", k, iterations, "sd")},
       wv AS (
         SELECT vec_id, cell, dist, vq,
                CAST(list_sum([vq[j] * vq[j]
                               for j in range(1, len(vq) + 1)])
                     AS BIGINT) AS n2
         FROM m$iterations
       ), p AS (
         SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                a.dist AS da, b.dist AS db,
                a.n2 AS na2_q, b.n2 AS nb2_q,
                CAST(list_sum([a.vq[j] * b.vq[j]
                               for j in range(1, len(a.vq) + 1)])
                     AS BIGINT) AS dot_q
         FROM wv a JOIN wv b ON a.cell = b.cell AND a.vec_id < b.vec_id
       )
       SELECT cell, id_a, id_b, dot_q, na2_q, nb2_q,
              CAST(round(CAST(dot_q AS DOUBLE)
                     / sqrt(CAST(na2_q AS DOUBLE) * CAST(nb2_q AS DOUBLE))
                     * 1000000) AS BIGINT) AS cos_micros,
              CASE WHEN da < db OR (da = db AND id_a < id_b)
                   THEN id_a ELSE id_b END AS keep_id,
              CASE WHEN da < db OR (da = db AND id_a < id_b)
                   THEN id_b ELSE id_a END AS drop_id
       FROM p
       WHERE dot_q > 0
         AND CAST(dot_q AS HUGEINT) * dot_q * ${tauDen.toLong * tauDen}
             >= CAST(na2_q AS HUGEINT) * nb2_q * ${tauNum.toLong * tauNum}
       ORDER BY id_a, id_b"""

  /** Streaming-HLL oracle: the q108 register/estimate SQL evaluated
    * over each wave's CUMULATIVE document prefix — wave w sees docs
    * with `(doc_id // 20) % 2 <= w`, exactly the state the streamed
    * registers hold after micro-batch w. */
  private[graft] def hllWaveOracle(p: Int): String = {
    val m = 1 << p
    val remBits = 60 - p
    val maxM = remBits + 1
    val alphaM2 = Sketch.hllAlpha(m) * m * m
    val twoK = math.pow(2.0, maxM)
    def waveEst(w: Int): String =
      s"""(SELECT source, CAST($w AS BIGINT) AS wave, n_used,
             CASE WHEN raw <= ${2.5 * m} AND v > 0
                  THEN ${m.toDouble} * ln(${m.toDouble} / CAST(v AS DOUBLE))
                  ELSE raw END AS est
           FROM (
             SELECT source, CAST(count(*) AS BIGINT) AS n_used,
                    $m - count(*) AS v,
                    $alphaM2 * ($twoK / CAST(
                      CAST(sum(1::BIGINT << ($maxM - mb))
                           + ($m - count(*)) * (1::BIGINT << $maxM)
                           AS BIGINT) AS DOUBLE)) AS raw
             FROM (
               SELECT source, h >> $remBits AS bucket,
                      max(CASE WHEN h & ((1::BIGINT << $remBits) - 1) = 0
                               THEN $maxM
                               ELSE $maxM - length(bin(
                                 h & ((1::BIGINT << $remBits) - 1))) END) AS mb
               FROM (
                 SELECT source,
                        ('0x' || substr(md5('hll:' || tok), 1, 15))::BIGINT AS h
                 FROM (SELECT source, unnest(
                         string_split_regex(lower(text), '\\s+')) AS tok
                       FROM documents WHERE (doc_id // 20) % 2 <= $w) u
                 WHERE tok <> '') hh
               GROUP BY source, bucket) mm
             GROUP BY source) agg)"""
    s"""SELECT * FROM (${waveEst(0)} UNION ALL ${waveEst(1)}) z
       ORDER BY source, wave"""
  }

  /** q227: each streamed snapshot replayed as the BATCH log-bucket
    * quantile over that wave's cumulative prefix — identical bucket
    * string-arithmetic and `(p·n + 999) // 1000` rank rule as
    * q217's oracle, pivoted to the snapshot's p50/p90/p99 columns. */
  private[graft] def streamQuantilesOracle: String = {
    def waveSel(w: Int): String =
      s"""(WITH base AS (
            SELECT event_type AS g,
                   CAST(round(value * 100.0) AS BIGINT) AS x
            FROM events WHERE (event_id // 20) % 2 <= $w
              AND CAST(round(value * 100.0) AS BIGINT) > 0
          ), bk AS (
            SELECT g,
                   CASE WHEN len(CAST(x AS VARCHAR)) < 3 THEN x
                        ELSE CAST(substr(CAST(x AS VARCHAR), 1, 2)
                          || repeat('0', len(CAST(x AS VARCHAR)) - 2)
                          AS BIGINT) END AS b
            FROM base
          ), h AS (
            SELECT g, b, CAST(count(*) AS BIGINT) AS c
            FROM bk GROUP BY g, b
          ), cum AS (
            SELECT g, b,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
            FROM h
          ), tot AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY g
          ), tg AS (
            SELECT g, n, CAST(p AS BIGINT) AS permille,
                   (CAST(p AS BIGINT) * n + 999) // 1000 AS t
            FROM tot, (SELECT unnest([500, 900, 990]) AS p)
          ), sel AS (
            SELECT tg.g, tg.n, tg.permille, CAST(min(cum.b) AS BIGINT) AS est
            FROM tg JOIN cum ON cum.g = tg.g AND cum.cum >= tg.t
            GROUP BY tg.g, tg.n, tg.permille
          )
          SELECT g AS event_type, CAST($w AS BIGINT) AS wave, n,
                 CAST(min(CASE WHEN permille = 500 THEN est END)
                   AS BIGINT) AS p50,
                 CAST(min(CASE WHEN permille = 900 THEN est END)
                   AS BIGINT) AS p90,
                 CAST(min(CASE WHEN permille = 990 THEN est END)
                   AS BIGINT) AS p99
          FROM sel GROUP BY g, n)"""
    s"""SELECT * FROM (${waveSel(0)} UNION ALL ${waveSel(1)}) z
       ORDER BY event_type, wave"""
  }

  /** q131: q90's domain derivation + the grouped-split hash on the
    * DOMAIN string (same md5-14-hex arithmetic as splitHashSql, keyed
    * on the group value instead of the row id). */
  private[graft] def groupedSplitOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  AS url
         FROM documents
       ), h AS (
         SELECT doc_id, url,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, host, string_split(host, '.') AS toks FROM h
       ), reg AS (
         SELECT doc_id,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS registrable
         FROM l
       ), sp AS (
         SELECT doc_id, registrable,
                ('0x' || substr(md5('gsplit:' || registrable), 1, 14))::BIGINT
                  % 100 AS hh
         FROM reg
       )
       SELECT doc_id, registrable,
              CASE WHEN hh < 90 THEN 'train'
                   WHEN hh < 95 THEN 'valid' ELSE 'test' END AS split
       FROM sp ORDER BY doc_id"""
  }

  /** q134: q90's domain derivation + the per-domain wave rank + the
    * salted (domain, wave) fetch key, all replayed in SQL. */
  private[graft] def frontierInterleaveOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  AS url
         FROM documents
       ), h AS (
         SELECT doc_id,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, host, string_split(host, '.') AS toks FROM h
       ), reg AS (
         SELECT doc_id,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS registrable
         FROM l
       ), wv AS (
         SELECT doc_id, registrable,
                CAST(row_number() OVER (PARTITION BY registrable
                  ORDER BY doc_id) AS BIGINT) AS wave
         FROM reg
       )
       SELECT doc_id, registrable, wave,
              ('0x' || substr(md5('frontier:' || registrable || ':'
                 || CAST(wave AS VARCHAR)), 1, 14))::BIGINT AS fetch_key
       FROM wv ORDER BY doc_id"""
  }

  /** q136: the round-9 capstone oracle — recursive-closure canonical
    * keep, then the q131 domain/split fragments, then the q134 wave/
    * fetch-key fragments, composed exactly as the engine composes the
    * operators. */
  private[graft] def curationV3Oracle: String = {
    val pairs = minhashPairsOracle(corpusCte = boilerplateCorpusSql,
      source = "corpus", cap = None)
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE p AS (
         SELECT id_a, id_b FROM ($pairs)
       ), sym AS (
         SELECT id_a AS u, id_b AS v FROM p
         UNION
         SELECT id_b AS u, id_a AS v FROM p
       ), reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       ), lbl AS (
         SELECT u AS node, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u
       ), d AS (
         SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM documents
         UNION ALL
         SELECT 10000000 + r AS doc_id,
                CAST(length('$boilerplateText') AS BIGINT) AS score
         FROM range(1, 13) t(r)
       ), cl AS (
         SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                d.score
         FROM d LEFT JOIN lbl l ON l.node = d.doc_id
       ), rk AS (
         SELECT *, row_number() OVER (PARTITION BY cluster_id
                     ORDER BY score DESC, doc_id) AS rn
         FROM cl
       ), keepers AS (
         SELECT doc_id FROM rk WHERE rn = 1
       ), uu AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  AS url
         FROM keepers
       ), hh AS (
         SELECT doc_id,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM uu
       ), ll AS (
         SELECT doc_id, host, string_split(host, '.') AS toks FROM hh
       ), reg AS (
         SELECT doc_id,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS registrable
         FROM ll
       ), lab AS (
         SELECT doc_id, registrable,
                CASE WHEN ('0x' || substr(md5('gsplit:' || registrable),
                             1, 14))::BIGINT % 100 < 90 THEN 'train'
                     WHEN ('0x' || substr(md5('gsplit:' || registrable),
                             1, 14))::BIGINT % 100 < 95 THEN 'valid'
                     ELSE 'test' END AS split
         FROM reg
       ), tr AS (
         SELECT doc_id, registrable, split,
                CAST(row_number() OVER (PARTITION BY registrable
                  ORDER BY doc_id) AS BIGINT) AS wave
         FROM lab WHERE split = 'train'
       )
       SELECT doc_id, registrable, split, wave,
              ('0x' || substr(md5('frontier:' || registrable || ':'
                 || CAST(wave AS VARCHAR)), 1, 14))::BIGINT AS fetch_key
       FROM tr ORDER BY doc_id"""
  }

  /** q133/q139: the exact prefix-filter pairs LEFT JOIN the
    * banded-LSH pairs at the given preset — both subqueries are the
    * certified q111/q45-family oracles verbatim. */
  private[graft] def lshRecallOracle(numHashes: Int = 8,
                              independent: Boolean = false): String = {
    val exact = prefixJaccardOracle(tauNum = 4, tauDen = 5)
    val lsh = minhashPairsOracle(corpusCte = boilerplateCorpusSql,
      source = "corpus", cap = None, numHashes = numHashes,
      independent = independent)
    s"""WITH ex AS (SELECT id_a, id_b, jaccard FROM ($exact)),
         ls AS (SELECT id_a AS l_a, id_b AS l_b FROM ($lsh))
       SELECT ex.id_a, ex.id_b, ex.jaccard,
              ls.l_a IS NOT NULL AS found_by_lsh
       FROM ex LEFT JOIN ls ON ls.l_a = ex.id_a AND ls.l_b = ex.id_b
       ORDER BY ex.id_a, ex.id_b"""
  }

  /** q129: per (source, wave, probe) Count-Min estimates, each wave
    * recomputed as the batch sketch over that wave's CUMULATIVE token
    * prefix — identical md5 cell coordinates to `Sketch.cmBucket`
    * and the streaming fold. */
  private[graft] def cmWaveOracle(depth: Int, width: Int, salt: String,
                           probes: Seq[String]): String = {
    val probeValues = probes.map(p => s"('$p')").mkString(", ")
    def waveEst(w: Int): String =
      s"""(SELECT g.source, CAST($w AS BIGINT) AS wave, g.probe,
             CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est
           FROM (SELECT src.source, p.probe, p.h, p.bucket
                 FROM (SELECT DISTINCT source FROM tt) src
                 CROSS JOIN pc p) g
           LEFT JOIN (
             SELECT source, h,
                    ('0x' || substr(md5('$salt:' || CAST(h AS VARCHAR)
                       || ':' || tok), 1, 14))::BIGINT % $width AS bucket,
                    CAST(count(*) AS BIGINT) AS cnt
             FROM tt CROSS JOIN (SELECT unnest(range(0, $depth)) AS h)
             WHERE wave <= $w GROUP BY source, h, bucket) s
             ON s.source = g.source AND s.h = g.h AND s.bucket = g.bucket
           GROUP BY g.source, g.probe)"""
    s"""WITH t AS (
         SELECT source, (doc_id // 20) % 2 AS wave,
                unnest(string_split_regex(lower(text), '\\s+')) AS tok
         FROM documents
       ), tt AS (SELECT * FROM t WHERE tok <> ''),
       probes(probe) AS (VALUES $probeValues),
       pc AS (
         SELECT probe, h,
                ('0x' || substr(md5('$salt:' || CAST(h AS VARCHAR)
                   || ':' || probe), 1, 14))::BIGINT % $width AS bucket
         FROM probes CROSS JOIN (SELECT unnest(range(0, $depth)) AS h)
       )
       SELECT * FROM (${waveEst(0)} UNION ALL ${waveEst(1)}) z
       ORDER BY source, wave, probe"""
  }

  /** Prefix-filter exact Jaccard join oracle mirroring
    * [[graft.operators.Dedup.prefixJaccardPairs]]: rarity-keyed
    * shingles (lpad(df):shingle), prefix length L - ceil(tau·L) + 1
    * in integer arithmetic, first-match emission at the minimum
    * shared prefix key, then exact set verification. */
  private[graft] def prefixJaccardOracle(tauNum: Int, tauDen: Int,
                                  collapse: Boolean = false): String = {
    // collapse: lowest-id representative per distinct text (the
    // exactDuplicates keep rule) before the join — q140's contract
    val repCte = if (!collapse) ""
      else "rcorpus AS (SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text), "
    val src = if (collapse) "rcorpus" else "corpus"
    s"""WITH ${boilerplateCorpusSql}${repCte}w AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM $src
       ), sh AS (
         SELECT DISTINCT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ')
                      for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM w
       ), df AS (
         SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle
       ), keyed AS (
         SELECT s.doc_id,
                lpad(CAST(d.df AS VARCHAR), 10, '0') || ':' || s.shingle AS k
         FROM sh s JOIN df d USING (shingle)
       ), sets AS (
         SELECT doc_id, list_sort(list(k)) AS ks, CAST(count(*) AS BIGINT) AS l
         FROM keyed GROUP BY doc_id
       ), pref AS (
         SELECT doc_id, l,
                ks[1:CAST(l - (l * $tauNum + ${tauDen - 1}) // $tauDen + 1
                          AS INTEGER)] AS p
         FROM sets
       ), pe AS (
         SELECT doc_id, l, p, unnest(p) AS pk FROM pref
       ), cand AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM pe a JOIN pe b ON a.pk = b.pk AND a.doc_id < b.doc_id
         WHERE a.l * $tauNum <= b.l * $tauDen
           AND b.l * $tauNum <= a.l * $tauDen
           AND a.pk = list_min(list_intersect(a.p, b.p))
       ), ver AS (
         SELECT c.id_a, c.id_b,
                CAST(len(list_intersect(sa.ks, sb.ks)) AS BIGINT) AS n_inter,
                sa.l AS n_a, sb.l AS n_b
         FROM cand c JOIN sets sa ON sa.doc_id = c.id_a
                     JOIN sets sb ON sb.doc_id = c.id_b
       )
       SELECT id_a, id_b, n_inter, n_a, n_b,
              CAST(n_inter AS DOUBLE)
                / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
       FROM ver
       WHERE n_inter * $tauDen >= (n_a + n_b - n_inter) * $tauNum
       ORDER BY id_a, id_b"""
  }

  private[graft] def minhashCappedPairsOracle: String =
    minhashPairsOracle(corpusCte = boilerplateCorpusSql, source = "corpus",
      cap = Some(8))

  /** q151: the capped pair oracle over the COLLAPSED corpus — one
    * representative (min doc_id) per distinct text, then the same
    * banding/cap/jaccard replay. */
  private[graft] def minhashCollapsedPairsOracle: String =
    minhashPairsOracle(
      corpusCte = boilerplateCorpusSql +
        """reps AS (
         SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text
       ), """,
      source = "reps", cap = Some(8))

  /** MinHash-LSH near-dup pair oracle. The Spark side emits each pair
    * once via first-match banding; the oracle gets the same SET with a
    * plain UNION (which dedups) over per-band joins. With `cap`, each
    * band join is restricted to buckets of at most `cap` members —
    * the hot-bucket guard's semantics: a pair survives iff SOME band
    * puts both docs in a small-enough bucket. */
  private[graft] def minhashPairsOracle(corpusCte: String, source: String,
                                 cap: Option[Int],
                                 threshold: Option[Double] = Some(0.8),
                                 withSigEq: Boolean = false,
                                 numHashes: Int = 8,
                                 independent: Boolean = false): String = {
    val numBands = numHashes / 2 // rowsPerBand = 2 throughout
    val sigs = minhashSigsSql(numHashes, independent)
    val bandCols = (0 until numBands).map(b =>
      s"md5(concat_ws('|', sig_${2 * b}, sig_${2 * b + 1})) AS b_$b").mkString(", ")
    val unions = (0 until numBands).map { b =>
      val capClause = cap.map(c =>
        s"""
          JOIN (SELECT b_$b AS k, count(*) AS c FROM bands GROUP BY 1) sz
            ON sz.k = a.b_$b
          WHERE sz.c <= $c""").getOrElse("")
      s"""SELECT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM bands a JOIN bands b2 ON a.b_$b = b2.b_$b AND a.doc_id < b2.doc_id$capClause"""
    }.mkString(" UNION ")
    val where = threshold.map(t => s" WHERE jaccard >= $t").getOrElse("")
    val sigEqCte = if (!withSigEq) "" else {
      val eqSum = (0 until numHashes)
        .map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s""", se AS (
         SELECT j.id_a, j.id_b, CAST($eqSum AS BIGINT) AS sig_eq
         FROM j JOIN sig sa ON sa.doc_id = j.id_a
                JOIN sig sb ON sb.doc_id = j.id_b
       )"""
    }
    val sigEqJoin =
      if (withSigEq) " JOIN se ON se.id_a = j.id_a AND se.id_b = j.id_b" else ""
    val finalCols =
      if (withSigEq) "j.id_a AS id_a, j.id_b AS id_b, se.sig_eq AS sig_eq, " +
        "j.n_inter AS n_inter, j.n_a AS n_a, j.n_b AS n_b, j.jaccard AS jaccard"
      else "id_a, id_b, n_inter, n_a, n_b, jaccard"
    s"""WITH ${corpusCte}w AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM $source
       ), sh AS (
         SELECT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM w
       ), shd AS (
         SELECT DISTINCT doc_id, shingle FROM sh
       ), sig AS (
         SELECT doc_id, $sigs FROM sh GROUP BY doc_id
       ), bands AS (
         SELECT doc_id, $bandCols FROM sig
       ), p AS ($unions),
       sizes AS (
         SELECT doc_id, CAST(count(*) AS INTEGER) AS n_sh FROM shd GROUP BY doc_id
       ), inter AS (
         SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
         FROM p
         JOIN shd ta ON ta.doc_id = p.id_a
         JOIN shd tb ON tb.doc_id = p.id_b AND ta.shingle = tb.shingle
         GROUP BY p.id_a, p.id_b
       ), j AS (
         SELECT p.id_a, p.id_b,
                coalesce(i.n_inter, 0) AS n_inter,
                sa.n_sh AS n_a, sb.n_sh AS n_b,
                CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS jaccard
         FROM p
         LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         JOIN sizes sa ON sa.doc_id = p.id_a
         JOIN sizes sb ON sb.doc_id = p.id_b
       )$sigEqCte
       SELECT $finalCols
       FROM j$sigEqJoin$where ORDER BY id_a, id_b"""
  }

  /** q53: connected components over the q45-family near-dup pairs,
    * recomputed in DuckDB as a recursive transitive closure — the
    * component label is the minimum reachable id, exactly the
    * large-star/small-star fixpoint. Singleton documents label
    * themselves via the left join. */
  private[graft] def duplicateClustersOracle: String = {
    val pairs = minhashPairsOracle(corpusCte = boilerplateCorpusSql,
      source = "corpus", cap = None)
    s"""WITH RECURSIVE p AS (
         SELECT id_a, id_b FROM ($pairs)
       ), sym AS (
         SELECT id_a AS u, id_b AS v FROM p
         UNION
         SELECT id_b AS u, id_a AS v FROM p
       ), reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       ), lbl AS (
         SELECT u AS node, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u
       ), ids AS (
         SELECT doc_id FROM documents
         UNION ALL
         SELECT 10000000 + r AS doc_id FROM range(1, 13) t(r)
       )
       SELECT i.doc_id,
              coalesce(l.cluster_id, i.doc_id) AS cluster_id,
              coalesce(l.cluster_id, i.doc_id) = i.doc_id AS is_canonical
       FROM ids i LEFT JOIN lbl l ON l.node = i.doc_id
       ORDER BY doc_id"""
  }

  /** Identical-full-signature clusters over the boilerplate corpus
    * (q46). DuckDB `count(*)` is already BIGINT; `concat_ws` renders
    * the BIGINT signature slots in plain decimal, matching Spark's
    * `concat_ws` on longs. */
  private[graft] def signatureClustersOracle: String = {
    val sigCols = (0 until 8).map(h => s"sig_$h").mkString(", ")
    s"""WITH ${boilerplateCorpusSql}w AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM corpus
       ), sh AS (
         SELECT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
           END) AS shingle
         FROM w
       ), sig AS (
         SELECT doc_id, $minhashSigsSql FROM sh GROUP BY doc_id
       )
       SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs,
              md5(concat_ws('|', $sigCols)) AS sig_md5
       FROM sig GROUP BY $sigCols HAVING count(*) > 1
       ORDER BY keep_id"""
  }

  /** DuckDB mirror of `Curation.sampleHash(...) pmod mod`. */
  private[graft] def splitHashSql(salt: String, mod: Int): String =
    s"('0x' || substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % $mod"

  /** q49: the composed curation pipeline — language-id + quality
    * fragments are verbatim from the q18/q17 oracles, then filter,
    * min-id-per-digest dedup, and the split-hash CASE. */
  /** Shared hh..f CTE chain (language-id + quality scoring + the
    * q49/q73 keep-filter), threaded with `source` for the mixture
    * stage. Used WITHOUT a leading WITH. */
  private[graft] def qualityFilterCtes: String = {
    val hitCols = langMarkersSql.map { case (lang, list) =>
      s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ($list))) AS INTEGER) AS hits_$lang"
    }.mkString(",\n  ")
    val langs = langMarkersSql.map(_._1)
    val m = "greatest(" + langs.map(l => s"hits_$l").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
    s"""hh AS (
         SELECT doc_id, text, source, $hitCols FROM documents
       ), lang AS (
         SELECT doc_id, text, source, CASE $pick END AS predicted_lang FROM hh
       ), met AS (
         SELECT doc_id, text, source, predicted_lang,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
           CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ($stopwordsSqlList))) AS DOUBLE) AS n_stop
         FROM lang
       ), r AS (
         SELECT doc_id, text, source, predicted_lang, n_words,
           n_alpha / greatest(n_chars_d, 1.0) AS alpha_ratio,
           n_digit / greatest(n_chars_d, 1.0) AS digit_ratio,
           n_punct / greatest(n_chars_d, 1.0) AS punct_ratio,
           n_stop / greatest(n_words, 1.0) AS stopword_ratio
         FROM met
       ), q AS (
         SELECT doc_id, text, source, predicted_lang, n_words,
           least(alpha_ratio / 0.7, 1.0) * 0.4
             + least(stopword_ratio / 0.3, 1.0) * 0.3
             + (1.0 - least(digit_ratio * 5, 1.0)) * 0.15
             + (1.0 - least(punct_ratio * 5, 1.0)) * 0.15 AS quality_score
         FROM r
       ), f AS (
         SELECT * FROM q
         WHERE predicted_lang = 'en' AND quality_score >= 0.5 AND n_words >= 5
       )"""
  }

  private[graft] def curationPipelineOracle: String =
    s"""WITH $qualityFilterCtes, k AS (
         SELECT doc_id, predicted_lang, n_words,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
                ${splitHashSql("graft", 100)} AS hs
         FROM f
       )
       SELECT doc_id, predicted_lang, CAST(n_words AS BIGINT) AS n_words,
              CASE WHEN hs < 90 THEN 'train'
                   WHEN hs < 95 THEN 'valid' ELSE 'test' END AS split
       FROM k WHERE rn = 1 ORDER BY doc_id"""

  /** q73: the end-to-end corpus-assembly pipeline — quality filter →
    * exact dedup → decontaminate (vs the doc_id%97 eval set) →
    * mixture resample (src0:3, src1:2) → split → 512-token packing
    * per split. Every stage's fragment is proven individually
    * (q49/q58/q61/q48/q52); this oracle proves the COMPOSITION. */
  private[graft] def corpusPipelineOracle: String =
    s"""WITH $qualityFilterCtes, dd AS (
         SELECT doc_id, text, source, n_words,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         FROM f
       ), surv AS (
         SELECT doc_id, text, source, n_words FROM dd
         WHERE rn = 1 AND doc_id % 97 <> 0
       ), gw AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents
       ), g AS (
         SELECT DISTINCT doc_id, unnest(
           CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
           END) AS gram
         FROM gw
       ), eg AS (
         SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
       ), contam AS (
         SELECT g.doc_id FROM g JOIN eg USING (gram)
         JOIN surv ON surv.doc_id = g.doc_id
         GROUP BY g.doc_id HAVING count(*) >= 2
       ), clean AS (
         SELECT s.doc_id, s.source, s.n_words FROM surv s
         WHERE s.doc_id NOT IN (SELECT doc_id FROM contam)
       ), cnt AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n FROM clean GROUP BY 1
       ), cw AS (
         SELECT source, n,
                CAST(CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                     ELSE 1 END AS BIGINT) AS w
         FROM cnt
       ), mm AS (
         SELECT n AS mn, w AS mw FROM cw
         ORDER BY CAST(n AS DOUBLE) / w, source LIMIT 1
       ), mixed AS (
         SELECT c.doc_id, c.source, c.n_words
         FROM clean c JOIN cw USING (source) CROSS JOIN mm
         WHERE ('0x' || substr(md5('mix:' || CAST(c.doc_id AS VARCHAR)), 1, 14))::BIGINT
                 % (mm.mw * cw.n) < (mm.mn * cw.w)
       ), sp AS (
         SELECT doc_id, source, CAST(n_words AS BIGINT) AS ws_tokens,
                ${splitHashSql("graft", 100)} AS hs
         FROM mixed
       ), ss AS (
         SELECT doc_id, source, ws_tokens,
                CASE WHEN hs < 90 THEN 'train'
                     WHEN hs < 95 THEN 'valid' ELSE 'test' END AS split
         FROM sp
       ), pk AS (
         SELECT doc_id, source, split, ws_tokens,
                CAST(SUM(ws_tokens) OVER (PARTITION BY split ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  - ws_tokens AS strt
         FROM ss
       )
       SELECT doc_id, source, split, ws_tokens,
              CAST(floor(strt / 512) AS BIGINT) AS pack_id,
              strt - CAST(floor(strt / 512) AS BIGINT) * 512 AS pack_offset
       FROM pk ORDER BY doc_id"""

  private[graft] def simhashNearDupOracle: String =
    simhashPairsOracle(corpusCte = "", source = "documents", cap = None)

  private[graft] def simhashCappedOracle: String =
    simhashPairsOracle(corpusCte = boilerplateCorpusSql, source = "corpus",
      cap = Some(8))

  /** SimHash near-dup oracle; with `cap`, each slice join is
    * restricted to slice-key buckets of at most `cap` members (the
    * hot-bucket guard — same UNION-set equivalence as the capped
    * minhash oracle). */
  private[graft] def simhashPairsOracle(corpusCte: String, source: String,
                                 cap: Option[Int]): String = {
    val votes = (0 until 60).map(b =>
      s"CAST(sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b_$b")
      .mkString(", ")
    val fp = (0 until 60).map(b =>
      s"CASE WHEN b_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" | ")
    val unions = (0 until 4).map { sl =>
      val capClause = cap.map(c =>
        s"""
          JOIN (SELECT (simhash >> ${sl * 15}) & 32767 AS k, count(*) AS c
                FROM sb GROUP BY 1) sz
            ON sz.k = ((a.simhash >> ${sl * 15}) & 32767)
          WHERE sz.c <= $c""").getOrElse("")
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          FROM sb a JOIN sb b
            ON ((a.simhash >> ${sl * 15}) & 32767) = ((b.simhash >> ${sl * 15}) & 32767)
           AND a.doc_id < b.doc_id$capClause"""
    }.mkString(" UNION ")
    s"""WITH ${corpusCte}w AS (
         SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS word
         FROM $source
       ), h AS (
         SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM w
       ), v AS (
         SELECT doc_id, $votes FROM h GROUP BY doc_id
       ), sb AS (
         SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v
       ), p AS ($unions)
       SELECT id_a, id_b, hamming FROM p WHERE hamming <= 8
       ORDER BY id_a, id_b"""
  }

  /** DuckDB twin of [[frozenVec]]: 8 exact small-integer doubles from
    * the md5 hex pairs of `keyExpr`. */
  private[graft] def frozenVecSql(keyExpr: String): String =
    (0 until 8).map(i =>
      s"('0x' || substr(md5($keyExpr), ${2 * i + 1}, 2))::BIGINT::DOUBLE")
      .mkString("[", ", ", "]")

  /** Full DuckDB replay of the flagship matcher with the frozen
    * embedder + `lower` cleaner (q40): crossJoin cosine → top-2 with
    * the lower-ref_row_id tie-break → rank pivot → exact-overwrite
    * (first-row-wins, definition-vs-all_text asymmetry, rank-2
    * nulling). Each stage is one step of Matcher.mapLabels' fused
    * per-row kernel (MatchReference.report), written relationally. */
  private[graft] def labelMatchFrozenOracle: String = {
    def cos(av: String, an: String, bv: String, bn: String) =
      s"CASE WHEN $an * $bn = 0 THEN 0.0 ELSE list_dot_product($av, $bv) / ($an * $bn) END"
    s"""WITH p AS (
         SELECT CAST(p_partkey AS VARCHAR) AS ct_id, p_name AS ct_name,
                p_brand AS ct_label, p_type AS def,
                p_name || ' ' || p_brand || ' ' || p_type AS all_text
         FROM part WHERE p_partkey <= 300
       ), ref AS (
         SELECT ct_id, ct_name, def, all_text,
                row_number() OVER (ORDER BY ct_id) AS ref_row_id,
                ${frozenVecSql("all_text")} AS v
         FROM p
       ), refn AS (
         SELECT *, sqrt(list_dot_product(v, v)) AS nrm FROM ref
       ), rawq AS (
         SELECT DISTINCT source, raw FROM (
           SELECT source,
                  array_to_string((string_split(text, ' '))[1:3], ' ') AS raw
           FROM documents
           UNION ALL
           SELECT 'planted' AS source, p_name AS raw
           FROM part WHERE p_partkey <= 300 AND p_partkey % 50 = 0
         )
       ), q AS (
         SELECT source, raw, lower(raw) AS cleaned,
                ${frozenVecSql("lower(raw)")} AS qv
         FROM rawq
       ), qn AS (
         SELECT *, sqrt(list_dot_product(qv, qv)) AS qnrm FROM q
       ), s AS (
         SELECT qn.source, qn.raw, qn.cleaned, r.ref_row_id,
                ${cos("qn.qv", "qn.qnrm", "r.v", "r.nrm")} AS score
         FROM qn CROSS JOIN refn r
       ), rk AS (
         SELECT *, row_number() OVER (PARTITION BY source, raw
                     ORDER BY score DESC, ref_row_id ASC) AS rnk
         FROM s
       ), wide AS (
         SELECT source, raw, cleaned,
           max(CASE WHEN rnk = 1 THEN score END) AS sc1,
           max(CASE WHEN rnk = 1 THEN ref_row_id END) AS rid1,
           max(CASE WHEN rnk = 2 THEN score END) AS sc2,
           max(CASE WHEN rnk = 2 THEN ref_row_id END) AS rid2
         FROM rk WHERE rnk <= 2 GROUP BY source, raw, cleaned
       ), ex AS (
         SELECT ekey, eid, ename, edef FROM (
           SELECT lower(ct_name) AS ekey, ct_id AS eid, ct_name AS ename,
                  def AS edef,
                  row_number() OVER (PARTITION BY lower(ct_name)
                    ORDER BY ref_row_id ASC) AS rn
           FROM ref)
         WHERE rn = 1
       )
       SELECT w.source, w.raw AS raw_input_label, w.cleaned AS cleaned_input_label,
         CASE WHEN e.ekey IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE w.sc1 END AS match_score_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.eid ELSE r1.ct_id END AS matched_asctb_id_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.ename ELSE r1.ct_name END AS matched_asctb_label_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.edef ELSE r1.all_text END AS matched_asctb_text_1,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE w.sc2 END AS match_score_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.ct_id END AS matched_asctb_id_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.ct_name END AS matched_asctb_label_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.all_text END AS matched_asctb_text_2
       FROM wide w
       LEFT JOIN ex e ON e.ekey = w.cleaned
       LEFT JOIN ref r1 ON r1.ref_row_id = w.rid1
       LEFT JOIN ref r2 ON r2.ref_row_id = w.rid2
       ORDER BY w.source, raw_input_label"""
  }

  /** Raw-token stopword filter (F7/F10: NLTK list + 'NaN') as a SQL
    * NOT IN list, generated from TextNlp.stopwords. */
  private[graft] def notStopwordSql(e: String): String = {
    val words = (graft.functions.TextNlp.stopwords + "NaN").toSeq.sorted
      .map(w => s"'${w.replace("'", "''")}'").mkString(", ")
    s"$e NOT IN ($words)"
  }

  /** CTE stages applying the full cleanToken pipeline (contraction →
    * alnum-strip → number-words → lowercase → exception/morphy lemma →
    * rstrip-'s') to every token of `textExpr`, keyed by `keys`.
    * regexSplit=true mirrors cleanLabel's python no-arg split (`\s+`,
    * empties dropped); false mirrors tokensCleanDedup's `split(' ')`
    * (empties kept). Emits `<p>_rooted(keys*, pos, rt, ctok)`;
    * expects global CTEs ct(tok,exp), exc(eword,elemma), nlex(ws). */
  private[graft] def cleanTokenStagesSql(p: String, srcCte: String, keys: Seq[String],
                                  textExpr: String, regexSplit: Boolean): String = {
    val ks = keys.mkString(", ")
    val split =
      if (regexSplit) s"string_split_regex($textExpr, '\\s+')"
      else s"string_split($textExpr, ' ')"
    val emptyFilter = if (regexSplit) "WHERE rt <> ''" else ""
    s"""${p}_toks AS (
         SELECT $ks, unnest($split) AS rt,
                unnest(range(1, len($split) + 1)) AS pos
         FROM $srcCte
       ), ${p}_nz AS (SELECT * FROM ${p}_toks $emptyFilter
       ), ${p}_al AS (
         SELECT $ks, pos, rt,
                regexp_replace(coalesce(ct.exp, x.rt), '[^a-zA-Z0-9]', '', 'g') AS alnum
         FROM ${p}_nz x LEFT JOIN ct ON ct.tok = x.rt
       ), ${p}_lw AS (
         SELECT $ks, pos, rt,
                lower(CASE WHEN regexp_matches(alnum, '^[0-9]+$$')
                           THEN ${numberWordsSql("CAST(alnum AS BIGINT)")}
                           ELSE alnum END) AS w
         FROM ${p}_al
       ), ${p}_rooted AS (
         SELECT $ks, pos, rt,
                rtrim(coalesce(e.elemma, ${morphyCaseSql("w")}), 's') AS ctok
         FROM ${p}_lw CROSS JOIN nlex LEFT JOIN exc e ON e.eword = w
       )"""
  }

  /** Stages turning `<p>_rooted` into the md5-TF embedding vector of
    * [[graft.embed.Md5HashingEmbedder]]: raw-token stopword filter →
    * first-emitted-occurrence dedup on the cleaned token → md5-56
    * bucket counts (dim buckets) → L2 normalize (zero vectors pass
    * through). `baseCte` supplies one row per key so all-stopword /
    * empty token lists still yield a (zero) vector. */
  private[graft] def md5TfVecStagesSql(p: String, baseCte: String, keys: Seq[String],
                                dim: Int): String = {
    val ks = keys.mkString(", ")
    val joinOn = keys.map(k => s"b.$k = k.$k").mkString(" AND ")
    val bks = keys.map(k => s"b.$k").mkString(", ")
    s"""${p}_kept AS (
         SELECT $ks, pos, ctok,
                row_number() OVER (PARTITION BY $ks, ctok ORDER BY pos) AS dup_rn
         FROM ${p}_rooted WHERE ${notStopwordSql("rt")}
       ), ${p}_toklist AS (
         SELECT $bks,
                list(k.ctok ORDER BY k.pos) FILTER (WHERE k.pos IS NOT NULL) AS toks
         FROM $baseCte b LEFT JOIN (SELECT * FROM ${p}_kept WHERE dup_rn = 1) k
           ON $joinOn
         GROUP BY $bks
       ), ${p}_cnt AS (
         SELECT $ks,
                list_transform(range(0, $dim), i ->
                  CAST(len(list_filter(coalesce(toks, []), t ->
                    (('0x' || substr(md5(t), 1, 14))::BIGINT % $dim) = i)) AS DOUBLE)) AS c
         FROM ${p}_toklist
       ), ${p}_vec AS (
         SELECT $ks,
                CASE WHEN sqrt(list_dot_product(c, c)) = 0 THEN c
                     ELSE list_transform(c, x -> x / sqrt(list_dot_product(c, c))) END AS v
         FROM ${p}_cnt
       )"""
  }

  /** Stages turning `<p>_rooted` into the frozen-trained-vocabulary
    * mean vector of [[graft.embed.QuantizedVocabEmbedder]] /
    * [[graft.functions.VocabAvgExpr]]: identical kept/toklist stages
    * to [[md5TfVecStagesSql]] (raw-token stopword filter,
    * first-occurrence dedup), then per-dimension SUM of the in-vocab
    * word vectors — a plain group aggregate, valid because the
    * quantized weights make the sum exact and order-free — scaled by
    * `(1.0 / n)` exactly as the JVM applies it (single rounding
    * step), then the shared L2-normalize stage. Expects a global CTE
    * `w2v(word, vec DOUBLE[])`. OOV tokens contribute nothing but
    * count toward n; empty/all-OOV token lists yield the zero
    * vector. */
  private[graft] def w2vVecStagesSql(p: String, baseCte: String, keys: Seq[String],
                              dim: Int): String = {
    val ks = keys.mkString(", ")
    val joinOn = keys.map(k => s"b.$k = k.$k").mkString(" AND ")
    val bks = keys.map(k => s"b.$k").mkString(", ")
    val ivJoin = keys.map(k => s"tl.$k = iv.$k").mkString(" AND ")
    val tks = keys.map(k => s"tl.$k").mkString(", ")
    val zeros = Seq.fill(dim)("0.0").mkString("[", ", ", "]")
    s"""${p}_kept AS (
         SELECT $ks, pos, ctok,
                row_number() OVER (PARTITION BY $ks, ctok ORDER BY pos) AS dup_rn
         FROM ${p}_rooted WHERE ${notStopwordSql("rt")}
       ), ${p}_toklist AS (
         SELECT $bks,
                list(k.ctok ORDER BY k.pos) FILTER (WHERE k.pos IS NOT NULL) AS toks
         FROM $baseCte b LEFT JOIN (SELECT * FROM ${p}_kept WHERE dup_rn = 1) k
           ON $joinOn
         GROUP BY $bks
       ), ${p}_ivs AS (
         SELECT $ks, list(w.vec) AS vecs
         FROM (SELECT $ks, unnest(coalesce(toks, [])) AS tok FROM ${p}_toklist) u
         JOIN w2v w ON w.word = u.tok
         GROUP BY $ks
       ), ${p}_cnt AS (
         SELECT $tks,
                CASE WHEN len(coalesce(tl.toks, [])) = 0 THEN $zeros
                     ELSE list_transform(range(1, ${dim + 1}), d ->
                       coalesce(list_sum(list_transform(coalesce(iv.vecs, []),
                                                        v -> v[d])), 0.0)
                         * (1.0 / len(tl.toks)))
                END AS c
         FROM ${p}_toklist tl LEFT JOIN ${p}_ivs iv ON $ivJoin
       ), ${p}_vec AS (
         SELECT $ks,
                CASE WHEN sqrt(list_dot_product(c, c)) = 0 THEN c
                     ELSE list_transform(c, x -> x / sqrt(list_dot_product(c, c))) END AS v
         FROM ${p}_cnt
       )"""
  }

  /** Full DuckDB replay of the flagship matcher on the LIVE md5-kernel
    * hashing embedder (q24): every stage of qFlagship — NLP label
    * clean, clean-dedup tokenization of both sides, TF bucket counts,
    * L2 normalize, cosine top-2 with the lower-ref_row_id tie-break,
    * rank pivot, exact-overwrite — mirrored one-to-one. The pipeline
    * stages are applied four times exactly as the engine does: query
    * label clean (display + embed input), query embed tokens, ref
    * embed tokens (raw all_text), ref CT_NAME clean (exact-match
    * key). */
  private[graft] def labelMatchHashedOracle: String =
    flagshipLiveOracle((p, base, keys) => md5TfVecStagesSql(p, base, keys, 64))

  /** q44's oracle: the SAME flagship replay with the vector stages
    * swapped for the frozen trained-vocabulary mean
    * ([[w2vVecStagesSql]]) over a generated-VALUES w2v(word, vec)
    * table — the fitted, 2^-20-quantized Word2Vec matrix captured by
    * [[q44VocabHolder]] during the q44 run. */
  private[graft] def labelMatchW2vOracle(vocab: Seq[(String, Array[Double])]): String = {
    val rows = vocab.map { case (w, v) =>
      s"('${w.replace("'", "''")}', ${v.map(_.toString).mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(",\n         ")
    flagshipLiveOracle((p, base, keys) => w2vVecStagesSql(p, base, keys, 64),
      extraCtes = s",\n       w2v(word, vec) AS (SELECT * FROM (VALUES $rows))")
  }

  /** q148's training trajectory as CTEs: RETRAIN the
    * [[graft.embed.CoocPowerEmbedder]] inside DuckDB — tokenize the
    * fit corpus with the engine's clean-dedup pipeline, count exact
    * (u,v) document co-occurrences (diagonal = row frequency), seed
    * ±micro vectors from md5 parity, unroll `rounds` floor-mean
    * diffusion rounds (the exactly-divisible `(raw - pmod) / deg`
    * form both engines compute exactly), and emit `w2v(word, vec)`
    * for the shared [[w2vVecStagesSql]] apply stages. */
  private[graft] def coocTrainCtesSql(dim: Int, rounds: Int, micro: Long,
                               salt: String): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""cr$r AS (
         SELECT c.u, w.d, CAST(sum(c.cnt * w.x) AS BIGINT) AS raw
         FROM cooc c JOIN cw${r - 1} w ON w.word = c.v
         GROUP BY c.u, w.d
       ), cw$r AS (
         SELECT r.u AS word, r.d,
                CAST((r.raw - (((r.raw % g.deg) + g.deg) % g.deg)) / g.deg
                  AS BIGINT) AS x
         FROM cr$r r JOIN cdeg g ON g.u = r.u
       )"""
    }.mkString(",\n       ")
    s""",
       twsrc AS (
         SELECT CAST(p_partkey AS VARCHAR) AS ct_id,
                coalesce(p_name || ' ' || p_brand || ' ' || p_type, p_name) AS all_text
         FROM part WHERE p_partkey <= 300
       ),
       ${cleanTokenStagesSql("tw", "twsrc", Seq("ct_id"),
        "substr(all_text, 1, 150)", regexSplit = false)},
       tw_tok AS (
         SELECT ct_id, ctok AS tok FROM (
           SELECT ct_id, ctok,
                  row_number() OVER (PARTITION BY ct_id, ctok ORDER BY pos) AS dup_rn
           FROM tw_rooted WHERE ${notStopwordSql("rt")})
         WHERE dup_rn = 1
       ),
       cooc AS (
         SELECT a.tok AS u, b.tok AS v, CAST(count(*) AS BIGINT) AS cnt
         FROM tw_tok a JOIN tw_tok b ON b.ct_id = a.ct_id
         GROUP BY a.tok, b.tok
       ),
       cdeg AS (SELECT u, CAST(sum(cnt) AS BIGINT) AS deg FROM cooc GROUP BY u),
       cw0 AS (
         SELECT g.u AS word, dd.d,
                CAST(CASE WHEN ('0x' || substr(md5('$salt:' || g.u || ':' ||
                         CAST(dd.d AS VARCHAR)), 1, 14))::BIGINT % 2 = 0
                     THEN $micro ELSE -$micro END AS BIGINT) AS x
         FROM cdeg g CROSS JOIN (SELECT unnest(range(0, $dim)) AS d) dd
       ),
       $roundCtes,
       w2v AS (
         SELECT word, list(CAST(x AS DOUBLE) ORDER BY d) AS vec
         FROM cw$rounds GROUP BY word
       )"""
  }

  private[graft] def labelMatchCoocOracle: String =
    flagshipLiveOracle((p, base, keys) => w2vVecStagesSql(p, base, keys, 64),
      extraCtes = coocTrainCtesSql(dim = 64, rounds = 2, micro = 1000000L,
        salt = "cpe"))

  /** q35's oracle: replay the 2-d projection from the frozen signed
    * eigenbasis ([[q35BasisHolder]], captured at fit time). Both
    * engines compute the same ordered 64-term dot product
    * ([[graft.functions.DotProductExpr]] ↔ `list_dot_product`), so
    * the coordinates match bit-for-bit; the basis itself is certified
    * against PCA's mathematical contract by q82. */
  private[graft] def pcaProjectionOracle(basis: Array[Array[Double]]): String = {
    def arr(b: Array[Double]) = b.map(_.toString).mkString("[", ", ", "]")
    s"""SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), ${arr(basis(0))}) AS x,
         list_dot_product(CAST(embedding AS DOUBLE[]), ${arr(basis(1))}) AS y
       FROM embeddings ORDER BY vec_id"""
  }

  /** Oracles generated from model state frozen at query-run time
    * (Verify runs every query before dumping [[oracleSql]]); empty
    * until the capturing queries have run in this JVM, in which case
    * the driver falls back to its rows-only record for them. */
  private[graft] def modelOracles: Map[String, String] =
    q35BasisHolder.get
      .map(b => "q35_pca_projection" -> pcaProjectionOracle(b)).toMap ++
    q44VocabHolder.get
      .map(v => "q44_label_match_w2v" -> labelMatchW2vOracle(v)).toMap

  /** The shared flagship-replay skeleton (every stage of qFlagship
    * mirrored one-to-one — see [[labelMatchHashedOracle]]'s doc),
    * parameterized over the embedding-vector stages so the md5-TF
    * (q24) and frozen-Word2Vec (q44) oracles state the identical
    * matcher algebra. `vecStages(p, baseCte, keys)` must emit
    * `${p}_vec(keys*, v)`; `extraCtes` is appended to the global CTE
    * prelude (leading comma included by the caller). */
  private[graft] def flagshipLiveOracle(
      vecStages: (String, String, Seq[String]) => String,
      extraCtes: String = ""): String = {
    val ctValues = graft.functions.TextNlp.contractionsMap.toSeq.sorted
      .map { case (k, v) =>
        s"('${k.replace("'", "''")}', '${v.replace("'", "''")}')"
      }.mkString(", ")
    def cos(av: String, an: String, bv: String, bn: String) =
      s"CASE WHEN $an * $bn = 0 THEN 0.0 ELSE list_dot_product($av, $bv) / ($an * $bn) END"
    s"""WITH ct(tok, exp) AS (SELECT * FROM (VALUES $ctValues)),
       exc(eword, elemma) AS (SELECT * FROM (VALUES $lemmaExcValuesSql)),
       nlex AS ($nounLexiconCteSql)$extraCtes,
       p AS (
         SELECT CAST(p_partkey AS VARCHAR) AS ct_id, p_name AS ct_name,
                p_type AS def,
                coalesce(p_name || ' ' || p_brand || ' ' || p_type, p_name) AS all_text
         FROM part WHERE p_partkey <= 300
       ), ref0 AS (
         SELECT ct_id, ct_name, def, all_text,
                row_number() OVER (ORDER BY ct_id) AS ref_row_id
         FROM p
       ), rawq AS (
         SELECT DISTINCT source,
                array_to_string((string_split(text, ' '))[1:3], ' ') AS raw
         FROM documents
       ),
       ${cleanTokenStagesSql("qc", "rawq", Seq("source", "raw"), "raw", regexSplit = true)},
       qlab AS (
         SELECT r.source, r.raw, coalesce(l.lbl, '') AS cleaned
         FROM rawq r LEFT JOIN (
           SELECT source, raw, string_agg(ctok, ' ' ORDER BY pos) AS lbl
           FROM qc_rooted GROUP BY source, raw) l
           ON l.source = r.source AND l.raw = r.raw
       ),
       ${cleanTokenStagesSql("qe", "qlab", Seq("source", "raw"),
        "substr(cleaned, 1, 150)", regexSplit = false)},
       ${vecStages("qe", "qlab", Seq("source", "raw"))},
       ${cleanTokenStagesSql("re", "ref0", Seq("ct_id"),
        "substr(all_text, 1, 150)", regexSplit = false)},
       ${vecStages("re", "ref0", Seq("ct_id"))},
       ${cleanTokenStagesSql("rc", "ref0", Seq("ct_id"), "ct_name", regexSplit = true)},
       rclab AS (
         SELECT r.ct_id, coalesce(l.lbl, '') AS name_cleaned
         FROM ref0 r LEFT JOIN (
           SELECT ct_id, string_agg(ctok, ' ' ORDER BY pos) AS lbl
           FROM rc_rooted GROUP BY ct_id) l ON l.ct_id = r.ct_id
       ),
       qn AS (
         SELECT b.source, b.raw, b.cleaned, t.v,
                sqrt(list_dot_product(t.v, t.v)) AS qnrm
         FROM qlab b JOIN qe_vec t ON t.source = b.source AND t.raw = b.raw
       ), refn AS (
         SELECT r0.ct_id, r0.ct_name, r0.def, r0.all_text, r0.ref_row_id,
                c.name_cleaned, t.v,
                sqrt(list_dot_product(t.v, t.v)) AS nrm
         FROM ref0 r0
         JOIN re_vec t ON t.ct_id = r0.ct_id
         JOIN rclab c ON c.ct_id = r0.ct_id
       ), s AS (
         SELECT qn.source, qn.raw, qn.cleaned, r.ref_row_id,
                ${cos("qn.v", "qn.qnrm", "r.v", "r.nrm")} AS score
         FROM qn CROSS JOIN refn r
       ), rk AS (
         SELECT *, row_number() OVER (PARTITION BY source, raw
                     ORDER BY score DESC, ref_row_id ASC) AS rnk
         FROM s
       ), wide AS (
         SELECT source, raw, cleaned,
           max(CASE WHEN rnk = 1 THEN score END) AS sc1,
           max(CASE WHEN rnk = 1 THEN ref_row_id END) AS rid1,
           max(CASE WHEN rnk = 2 THEN score END) AS sc2,
           max(CASE WHEN rnk = 2 THEN ref_row_id END) AS rid2
         FROM rk WHERE rnk <= 2 GROUP BY source, raw, cleaned
       ), ex AS (
         SELECT ekey, eid, ename, edef FROM (
           SELECT name_cleaned AS ekey, ct_id AS eid, ct_name AS ename,
                  def AS edef,
                  row_number() OVER (PARTITION BY name_cleaned
                    ORDER BY ref_row_id ASC) AS ex_rn
           FROM refn)
         WHERE ex_rn = 1
       )
       SELECT w.source, w.raw AS raw_input_label, w.cleaned AS cleaned_input_label,
         CASE WHEN e.ekey IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE w.sc1 END AS match_score_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.eid ELSE r1.ct_id END AS matched_asctb_id_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.ename ELSE r1.ct_name END AS matched_asctb_label_1,
         CASE WHEN e.ekey IS NOT NULL THEN e.edef ELSE r1.all_text END AS matched_asctb_text_1,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE w.sc2 END AS match_score_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.ct_id END AS matched_asctb_id_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.ct_name END AS matched_asctb_label_2,
         CASE WHEN e.ekey IS NOT NULL THEN NULL ELSE r2.all_text END AS matched_asctb_text_2
       FROM wide w
       LEFT JOIN ex e ON e.ekey = w.cleaned
       LEFT JOIN ref0 r1 ON r1.ref_row_id = w.rid1
       LEFT JOIN ref0 r2 ON r2.ref_row_id = w.rid2
       ORDER BY w.source, raw_input_label"""
  }

  /** The nested global regexp_replace chain of [[Scrub.piiPatterns]]
    * in application order, as SQL over `expr`. */
  private[graft] def piiRedactChainSql(expr: String): String =
    Scrub.piiPatterns.foldLeft(expr) {
      case (acc, (_, pat, ph)) => s"regexp_replace($acc, '$pat', '$ph', 'g')"
    }

  private[graft] def piiPlantListSql: String =
    piiPlants.map(p => s"'$p'").mkString("[", ", ", "]")

  /** q84 oracle GENERATED from [[Scrub.piiPatterns]] — counts via
    * regexp_extract_all on the raw text, redaction as the nested
    * global regexp_replace chain in application order. Same pattern
    * strings, same planted PII, both engines. */
  private[graft] def piiScrubOracle: String = {
    val plantList = piiPlantListSql
    val counts = Scrub.piiPatterns.map { case (cat, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$cat"
    }.mkString(",\n                ")
    val redacted = piiRedactChainSql("text")
    s"""WITH src AS (
         SELECT doc_id, text || ($plantList)[(doc_id % 7) + 1] AS text
         FROM documents
       )
       SELECT doc_id,
              $counts,
              $redacted AS scrubbed
       FROM src ORDER BY doc_id"""
  }

  /** q90 oracle — GENERATED from [[UrlOps.publicSuffixes]]: the same
    * host extraction, then eTLD+1 folding with the identical suffix
    * set inlined as an IN list. */
  private[graft] def registrableDomainOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  AS url
         FROM documents
       ), h AS (
         SELECT doc_id, url,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, url, host, string_split(host, '.') AS toks
         FROM h
       )
       SELECT doc_id, url, host,
              CASE WHEN len(toks) <= 2 THEN host
                   WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                     THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                   ELSE toks[-2] || '.' || toks[-1] END AS registrable
       FROM l ORDER BY doc_id"""
  }

  /** q239 oracle — the planted footer outlink (syntheticUrl +
    * '?x=1&y=2', the &amp; decoded by the parser) folded to eTLD+1
    * with the q90 machinery, grouped per domain. GENERATED from
    * [[UrlOps.publicSuffixes]] like [[registrableDomainOracle]]. */
  private[graft] def htmlOutlinkDomainsOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  || '?x=1&y=2'
                  AS url
         FROM documents
       ), h AS (
         SELECT doc_id,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, host, string_split(host, '.') AS toks FROM h
       ), r AS (
         SELECT doc_id,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS domain
         FROM l
       )
       SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              count(*) AS n_links
       FROM r GROUP BY domain ORDER BY domain"""
  }

  /** q242 oracle — the planted frontier URL folded to its domain
    * (q90 machinery), the path+query target extracted with the same
    * regex pair as the engine, and the robots OUTCOME stated in
    * closed form per planted regime (deny-all / graftbot override
    * allowing /p by longest match / open site): the engine must
    * PARSE its way to these answers; the oracle states the spec. */
  private[graft] def robotsGateOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  || '?x=1&y=2'
                  AS url
         FROM documents
       ), h AS (
         SELECT doc_id, url,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, url, host, string_split(host, '.') AS toks FROM h
       ), r AS (
         SELECT doc_id, url,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS domain
         FROM l
       ), g AS (
         SELECT doc_id, domain,
                regexp_replace(regexp_replace(url, '#.*$$', ''),
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '') AS target
         FROM r
       )
       SELECT doc_id, domain, target,
              CASE CAST(length(domain) % 3 AS INTEGER)
                WHEN 0 THEN false
                WHEN 1 THEN starts_with(target, '/p')
                ELSE true END AS allowed
       FROM g ORDER BY doc_id"""
  }

  /** q91 oracle — the same Morton interleave, generated as the
    * shift-mask chain (disjoint bit positions, so | is exact). */
  private[graft] def zOrderOracle: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((user_id >> $i) & 1) << ${2 * i})",
      s"(((vm >> $i) & 1) << ${2 * i + 1})"))
    s"""WITH e AS (
         SELECT event_id, user_id,
                CAST(round(value * 1000) AS BIGINT) AS vm
         FROM events
       )
       SELECT event_id, user_id, vm AS value_milli,
              CAST(${terms.mkString(" | ")} AS BIGINT) AS z
       FROM e ORDER BY event_id"""
  }

  /** q85 oracle — the same strip-fragment/strip-query/lowercase/
    * www-drop/trailing-slash regex chain [[UrlOps]] applies, then the
    * two-level (canonical URL → domain) rollup. */
  private[graft] def urlRollupOracle: String = {
    val shp = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$"
    s"""WITH u AS (
         SELECT doc_id,
                (['https://', 'HTTPS://WWW.'])[(doc_id % 2) + 1]
                  || source || '.Example.COM/p/' || CAST(doc_id % 37 AS VARCHAR)
                  || (['', '/', '?utm_source=feed&id=9', '#section-2'])[(doc_id % 4) + 1]
                  AS url
         FROM documents
       ), c AS (
         SELECT doc_id,
                regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                               '\\?.*$$', '', 'g') AS bare
         FROM u
       ), p AS (
         SELECT doc_id,
                lower(regexp_extract(bare, '$shp', 1)) AS scheme,
                regexp_replace(lower(regexp_extract(bare, '$shp', 2)),
                               '^www\\.', '', 'g') AS dom,
                regexp_replace(regexp_extract(bare, '$shp', 3), '/$$', '', 'g') AS path
         FROM c
       ), g AS (
         SELECT dom, scheme || '://' || dom || path AS curl,
                count(*) AS n, min(doc_id) AS keeper
         FROM p GROUP BY dom, scheme || '://' || dom || path
       )
       SELECT dom AS domain, CAST(count(*) AS BIGINT) AS n_urls,
              CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(sum(n - 1) AS BIGINT) AS n_removed
       FROM g GROUP BY dom ORDER BY domain"""
  }

  /** q98 oracle — the composed round-8 pipeline: the q84 redact
    * chain, the q85 canonicalization regex chain, the q94 entropy
    * arithmetic, the q88 chunk windows and the q87 shard hash, all
    * generated from the same shared data/builders as their individual
    * oracles. */
  private[graft] def curationPipelineV2Oracle: String = {
    val shp = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$"
    s"""WITH src AS (
         SELECT doc_id,
                text || ($piiPlantListSql)[(doc_id % 7) + 1] AS text,
                (['https://', 'HTTPS://WWW.'])[(doc_id % 2) + 1]
                  || source || '.Example.COM/p/' || CAST(doc_id % 37 AS VARCHAR)
                  || (['', '/', '?utm_source=feed&id=9', '#section-2'])[(doc_id % 4) + 1]
                  AS url
         FROM documents
       ), scr AS (
         SELECT doc_id, url, ${piiRedactChainSql("text")} AS scrubbed
         FROM src
       ), bare AS (
         SELECT doc_id, scrubbed,
                regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                               '\\?.*$$', '', 'g') AS b
         FROM scr
       ), canon AS (
         SELECT doc_id, scrubbed,
                lower(regexp_extract(b, '$shp', 1)) || '://'
                  || regexp_replace(lower(regexp_extract(b, '$shp', 2)),
                                    '^www\\.', '', 'g')
                  || regexp_replace(regexp_extract(b, '$shp', 3), '/$$', '', 'g')
                  AS curl
         FROM bare
       ), kept AS (
         SELECT doc_id, scrubbed FROM (
           SELECT doc_id, scrubbed,
                  row_number() OVER (PARTITION BY curl ORDER BY doc_id) AS rn
           FROM canon)
         WHERE rn = 1
       ), ch AS (
         SELECT doc_id, unnest(regexp_extract_all(scrubbed, '.')) AS c
         FROM kept
       ), cnt AS (
         SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
         FROM ch GROUP BY doc_id, c
       ), tot AS (
         SELECT doc_id, c, k, sum(k) OVER (PARTITION BY doc_id) AS n
         FROM cnt
       ), ent AS (
         SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
                CAST(sum(CAST(round(-ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
                              AS BIGINT) * k) AS BIGINT) AS ent_micros
         FROM tot GROUP BY doc_id
       ), gated AS (
         SELECT k.doc_id, k.scrubbed
         FROM kept k JOIN ent e USING (doc_id)
         WHERE e.n_chars >= 100 AND e.ent_micros >= 2800000 * e.n_chars
       ), tk AS (
         SELECT doc_id,
                list_filter(string_split_regex(scrubbed, '\\s+'), t -> t <> '') AS toks
         FROM gated
       ), wnd AS (
         SELECT doc_id, toks, len(toks) AS n,
                unnest([s for s in range(0, greatest(len(toks), 1), 24) if s < len(toks)]) AS s
         FROM tk
       ), chunks AS (
         SELECT doc_id * 1000 + s // 24 AS chunk_uid, doc_id,
                CAST(s // 24 AS BIGINT) AS chunk_id,
                CAST(least(32, n - s) AS BIGINT) AS n_tok
         FROM wnd
       ), h AS (
         SELECT chunk_uid, doc_id, chunk_id, n_tok,
                ('0x' || substr(md5('order:' || CAST(chunk_uid AS VARCHAR)), 1, 14))::BIGINT AS hk
         FROM chunks
       )
       SELECT chunk_uid, doc_id, chunk_id, n_tok, hk % 16 AS shard,
              CAST(row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, chunk_uid)
                   AS BIGINT) AS pos
       FROM h ORDER BY chunk_uid"""
  }

  /** q100 oracle — the batch replay of the streaming ingest chain:
    * same staged union, same redact chain and counts, same length
    * gate, first-arrival (version, doc_id) dedup on the scrubbed
    * digest. */
  private[graft] def streamIngestOracle: String = {
    val counts = Scrub.piiPatterns.map { case (_, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)"
    }.mkString(" + ")
    s"""WITH v0 AS (
         SELECT doc_id, CAST(0 AS BIGINT) AS version, text FROM documents
       ), v1 AS (
         SELECT doc_id, CAST(1 AS BIGINT) AS version,
                text || ($piiPlantListSql)[(doc_id % 7) + 1] AS text
         FROM documents WHERE doc_id % 4 = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), text
         FROM documents WHERE doc_id % 6 = 0 AND doc_id % 4 <> 0
       ), u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       ), scr AS (
         SELECT doc_id, version,
                ${piiRedactChainSql("text")} AS scrubbed,
                $counts AS n_redactions
         FROM u
       ), f AS (SELECT * FROM scr WHERE len(scrubbed) >= 50
       ), r AS (
         SELECT doc_id, version, md5(scrubbed) AS text_md5, n_redactions,
                row_number() OVER (PARTITION BY md5(scrubbed)
                  ORDER BY version, doc_id) AS rn
         FROM f
       )
       SELECT doc_id, version, text_md5, n_redactions
       FROM r WHERE rn = 1 ORDER BY doc_id, version"""
  }

  /** The vendored contraction table as DuckDB VALUES — both engines
    * evaluate the identical map. */
  private[graft] def expandContractionsOracle: String = {
    val values = graft.functions.TextNlp.contractionsMap.toSeq.sorted
      .map { case (k, v) =>
        s"('${k.replace("'", "''")}', '${v.replace("'", "''")}')"
      }.mkString(", ")
    s"""WITH src AS (
         SELECT doc_id, text || ' Don''t i''m o''clock' AS text FROM documents
       ), ct(tok, exp) AS (SELECT * FROM (VALUES $values)),
       toks AS (
         SELECT doc_id,
                unnest(string_split(text, ' ')) AS tok,
                unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         FROM src
       )
       SELECT t.doc_id,
              string_agg(coalesce(ct.exp, t.tok), ' ' ORDER BY t.pos) AS expanded
       FROM toks t LEFT JOIN ct ON ct.tok = t.tok
       GROUP BY t.doc_id ORDER BY doc_id"""
  }

  /** SQL specification of TextNlp.getRootWord: exception VALUES (the
    * vendored noun_exceptions resource) + the morphy rule chain (CASE
    * in rule order with the strict length guard) + rtrim('s'). Both
    * sides derive from the SAME Scala data, so the oracle checks the
    * JVM implementation against its spec, not a re-keyed copy. */
  private[graft] def lemmatizeOracle: String =
    s"""WITH toks AS (
         SELECT doc_id,
                unnest(string_split(text, ' ')) AS raw,
                unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos1
         FROM documents
       ), w AS (
         SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos, lower(raw) AS word
         FROM toks WHERE regexp_matches(raw, '^[A-Za-z]+$$')
       ), exc(eword, elemma) AS (SELECT * FROM (VALUES $lemmaExcValuesSql)),
       nlex AS ($nounLexiconCteSql),
       lem AS (
         SELECT w.doc_id, w.pos, w.word,
           coalesce(e.elemma, ${morphyCaseSql("word")}) AS lemma
         FROM w CROSS JOIN nlex LEFT JOIN exc e ON e.eword = w.word
       )
       SELECT doc_id, pos, word, rtrim(lemma, 's') AS root
       FROM lem ORDER BY doc_id, pos"""

  /** Full cleanLabel pipeline in SQL — the composition of every step
    * the q41/q42/q43 oracles prove individually, in cleanToken's
    * exact order (`nlp_preprocessing.py:42-70`): whitespace-split
    * (empties dropped, python no-arg split) → contraction map →
    * strip non-alphanumerics → number-to-words on all-digit tokens →
    * lowercase → exception/morphy lemma → rstrip 's' → re-join.
    * Converts q23 from rows-only to hash-checked. */
  private[graft] def nlpCleanOracle: String = {
    val ctValues = graft.functions.TextNlp.contractionsMap.toSeq.sorted
      .map { case (k, v) =>
        s"('${k.replace("'", "''")}', '${v.replace("'", "''")}')"
      }.mkString(", ")
    s"""WITH src AS (
         SELECT doc_id, substr(text, 1, 60) AS t FROM documents
       ), toks AS (
         SELECT doc_id,
                unnest(string_split_regex(t, '\\s+')) AS raw,
                unnest(range(1, len(string_split_regex(t, '\\s+')) + 1)) AS pos
         FROM src
       ), nz AS (
         SELECT doc_id, pos, raw FROM toks WHERE raw <> ''
       ), ct(tok, exp) AS (SELECT * FROM (VALUES $ctValues)),
       al AS (
         SELECT nz.doc_id, nz.pos,
                regexp_replace(coalesce(ct.exp, nz.raw), '[^a-zA-Z0-9]', '', 'g') AS alnum
         FROM nz LEFT JOIN ct ON ct.tok = nz.raw
       ), lowered AS (
         SELECT doc_id, pos,
                lower(CASE WHEN regexp_matches(alnum, '^[0-9]+$$')
                           THEN ${numberWordsSql("CAST(alnum AS BIGINT)")}
                           ELSE alnum END) AS word
         FROM al
       ), exc(eword, elemma) AS (SELECT * FROM (VALUES $lemmaExcValuesSql)),
       nlex AS ($nounLexiconCteSql),
       rooted AS (
         SELECT l.doc_id, l.pos,
                rtrim(coalesce(e.elemma, ${morphyCaseSql("l.word")}), 's') AS root
         FROM lowered l CROSS JOIN nlex LEFT JOIN exc e ON e.eword = l.word
       ), agg AS (
         SELECT doc_id, string_agg(root, ' ' ORDER BY pos) AS cleaned
         FROM rooted GROUP BY doc_id
       )
       SELECT s.doc_id,
              CASE WHEN s.t IS NULL THEN NULL
                   ELSE coalesce(a.cleaned, '') END AS cleaned
       FROM src s LEFT JOIN agg a USING (doc_id)
       ORDER BY s.doc_id"""
  }

  // --- NLP oracle builders: SQL twins GENERATED from TextNlp's own
  // --- word tables / rule lists, so the spec can never drift ---------

  private[graft] def below100Sql(e: String): String = {
    val onesList = graft.functions.TextNlp.ones.map(w => s"'$w'").mkString("[", ", ", "]")
    val tensList = graft.functions.TextNlp.tens.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CASE WHEN ($e) < 20 THEN ($onesList)[($e) + 1]
            WHEN ($e) % 10 = 0 THEN ($tensList)[($e) // 10 + 1]
            ELSE ($tensList)[($e) // 10 + 1] || '-' || ($onesList)[($e) % 10 + 1] END"""
  }

  private[graft] def below1000Sql(e: String): String = {
    val onesList = graft.functions.TextNlp.ones.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CASE WHEN ($e) < 100 THEN ${below100Sql(e)}
            WHEN ($e) % 100 = 0 THEN ($onesList)[($e) // 100 + 1] || ' hundred'
            ELSE ($onesList)[($e) // 100 + 1] || ' hundred and ' || ${below100Sql(s"($e) % 100")} END"""
  }

  /** Full number formatter for values < 10^(3·maxGroups): scale-group
    * decomposition with num2words' join rules — ", " between scale
    * groups, " and " before a final sub-100 group. Scale words come
    * from TextNlp.scales. */
  private[graft] def numberWordsSql(n: String, maxGroups: Int = 5): String = {
    val groupClauses = ((maxGroups - 1) to 1 by -1).map { k =>
      val div = "1" + "000" * k
      val divHigher = "1" + "000" * (k + 1)
      val g = s"($n) // $div % 1000"
      val scale = graft.functions.TextNlp.scales(k)
      s"""(CASE WHEN $g > 0
               THEN (CASE WHEN ($n) // $divHigher > 0 THEN ', ' ELSE '' END)
                    || ${below1000Sql(g)} || ' $scale' ELSE '' END)"""
    }
    val rest =
      s"""(CASE WHEN ($n) % 1000 > 0
              THEN (CASE WHEN ($n) % 1000 < 100 THEN ' and ' ELSE ', ' END)
                   || ${below1000Sql(s"($n) % 1000")} ELSE '' END)"""
    s"""CASE WHEN ($n) < 1000 THEN ${below1000Sql(n)}
        ELSE ${(groupClauses :+ rest).mkString(" || ")} END"""
  }

  /** One-row CTE body holding the vendored noun lexicon as a DuckDB
    * list — cross-joined so [[morphyCaseSql]]'s validation step can
    * probe it without repeating the literal per rule. */
  private[graft] def nounLexiconCteSql: String =
    graft.functions.TextNlp.nounLexicon.toSeq.sorted
      .map(w => s"'$w'").mkString("SELECT [", ", ", "] AS ws")

  /** Morphy rule chain with candidate validation, as a CASE in rule
    * order — applied to `word` when the exception lookup missed.
    * First tier: the first rule whose candidate is in the vendored
    * noun lexicon (`list_contains` against the `ws` list from
    * [[nounLexiconCteSql]]'s CTE). Fallback tier: the first
    * APPLICABLE rule's candidate with the strict length guard —
    * exactly TextNlp.lemmatize's two-tier order. */
  private[graft] def morphyCaseSql(word: String): String = {
    def cand(suf: String, rep: String) =
      s"substr($word, 1, len($word) - ${suf.length}) || '$rep'"
    def applicable(suf: String) =
      s"len($word) > ${suf.length} AND $word LIKE '%$suf'"
    val validatedCases = graft.functions.TextNlp.morphyRules.map { case (suf, rep) =>
      s"WHEN ${applicable(suf)} AND list_contains(ws, ${cand(suf, rep)}) " +
        s"THEN ${cand(suf, rep)}"
    }.mkString(" ")
    val fallbackCases = graft.functions.TextNlp.morphyRules.map { case (suf, rep) =>
      s"WHEN ${applicable(suf)} THEN ${cand(suf, rep)}"
    }.mkString(" ")
    s"CASE $validatedCases ELSE (CASE $fallbackCases ELSE $word END) END"
  }

  private[graft] def lemmaExcValuesSql: String =
    graft.functions.TextNlp.lemmaExceptions.toSeq.sorted
      .map { case (k, v) => s"('$k', '$v')" }.mkString(", ")

  private[graft] def numberWordsOracle: String =
    s"""SELECT doc_id,
         ${numberWordsSql("doc_id")} AS w_small,
         ${numberWordsSql("doc_id * 12345 + 678")} AS w_large
       FROM documents ORDER BY doc_id"""

  private[graft] def sessionizeOracle: String =
    """WITH x AS (
         SELECT user_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
         FROM events
       ), y AS (
         SELECT user_id, ts, value,
                CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS ns
         FROM x
       ), z AS (
         SELECT user_id, ts, value,
                CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         FROM y
       )
       SELECT user_id, session_id, count(*) AS n_events,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
              CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
       FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  private[graft] def ivfOracle: String =
    s"""$embCte,
       cent AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 12),
       assign AS (
         SELECT vec_id, cell FROM (
           SELECT nn.vec_id, cent.cell,
                  row_number() OVER (PARTITION BY nn.vec_id ORDER BY
                    ${cosSql("nn.v", "nn.nrm", "cent.cv", "cent.cnrm")} DESC,
                    cent.cell ASC) AS rn
           FROM n nn CROSS JOIN cent)
         WHERE rn = 1
       ),
       q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0),
       probes AS (
         SELECT q_id, cell FROM (
           SELECT q.q_id, cent.cell,
                  row_number() OVER (PARTITION BY q.q_id ORDER BY
                    ${cosSql("q.qv", "q.qnrm", "cent.cv", "cent.cnrm")} DESC,
                    cent.cell ASC) AS rn
           FROM q CROSS JOIN cent)
         WHERE rn <= 3
       ),
       cand AS (
         SELECT q.q_id, c.vec_id AS c_id,
                ${cosSql("q.qv", "q.qnrm", "c.v", "c.nrm")} AS score
         FROM probes p
         JOIN assign a ON a.cell = p.cell
         JOIN n c ON c.vec_id = a.vec_id
         JOIN q ON q.q_id = p.q_id
       )
       SELECT q_id, CAST(rnk AS BIGINT) AS "rank", c_id, score FROM (
         SELECT q_id, c_id, score,
                row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk
         FROM cand)
       WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** q127: the q53 recursive-closure clusters with the representative
    * re-picked by max score (text length; ties → min id) — both the
    * closure and the argmax replayed in SQL. */
  private[graft] def clusterCanonicalOracle: String = {
    val pairs = minhashPairsOracle(corpusCte = boilerplateCorpusSql,
      source = "corpus", cap = None)
    s"""WITH RECURSIVE p AS (
         SELECT id_a, id_b FROM ($pairs)
       ), sym AS (
         SELECT id_a AS u, id_b AS v FROM p
         UNION
         SELECT id_b AS u, id_a AS v FROM p
       ), reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       ), lbl AS (
         SELECT u AS node, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u
       ), d AS (
         SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM documents
         UNION ALL
         SELECT 10000000 + r AS doc_id,
                CAST(length('$boilerplateText') AS BIGINT) AS score
         FROM range(1, 13) t(r)
       ), cl AS (
         SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                d.score
         FROM d LEFT JOIN lbl l ON l.node = d.doc_id
       ), rk AS (
         SELECT *, row_number() OVER (PARTITION BY cluster_id
                     ORDER BY score DESC, doc_id) AS rn
         FROM cl
       ), best AS (
         SELECT cluster_id, doc_id AS keep_id FROM rk WHERE rn = 1
       )
       SELECT c.doc_id, c.cluster_id, c.score, b.keep_id,
              c.doc_id = b.keep_id AS keep
       FROM cl c JOIN best b USING (cluster_id)
       ORDER BY doc_id"""
  }

  /** q172: [[graft.operators.Graph.kCore]] replayed as `rounds`
    * unrolled peel rounds over the mutual-k-NN edge derivation
    * ([[graft.operators.Ann.mutualKnnEdges]]). Every CTE is
    * MATERIALIZED — each round references its predecessor three
    * times (degree count + both IN filters), the exact
    * exponential-re-inlining shape the q163 oracle hit. Rounds past
    * the fixed point no-op, matching the engine's early exit. */
  private[graft] def kCoreOracle(k: Int, rounds: Int, knn: Int): String = {
    val head =
      s"""$embCte,
         s AS (
           SELECT a.vec_id AS q_id, b.vec_id AS c_id,
                  ${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS score
           FROM n a JOIN n b ON a.vec_id <> b.vec_id
         ), r AS MATERIALIZED (
           SELECT q_id, c_id
           FROM (SELECT q_id, c_id,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY score DESC, c_id) AS rnk
                 FROM s)
           WHERE rnk <= $knn
         ), e0 AS MATERIALIZED (
           SELECT f.q_id AS a, f.c_id AS b
           FROM r f JOIN r g ON f.q_id = g.c_id AND f.c_id = g.q_id
           WHERE f.q_id < f.c_id
         )"""
    val iters = (0 until rounds).map { i =>
      s""", d$i AS MATERIALIZED (
           SELECT node, CAST(count(*) AS BIGINT) AS dg
           FROM (SELECT a AS node FROM e$i
                 UNION ALL SELECT b AS node FROM e$i)
           GROUP BY 1
         ), k$i AS MATERIALIZED (
           SELECT node FROM d$i WHERE dg >= $k
         ), e${i + 1} AS MATERIALIZED (
           SELECT a, b FROM e$i
           WHERE a IN (SELECT node FROM k$i)
             AND b IN (SELECT node FROM k$i)
         )"""
    }.mkString
    head + iters +
      s"""
         SELECT node, CAST(count(*) AS BIGINT) AS core_deg
         FROM (SELECT a AS node FROM e$rounds
               UNION ALL SELECT b AS node FROM e$rounds)
         GROUP BY 1
         HAVING count(*) >= $k
         ORDER BY node"""
  }

  /** q199: the half-sample CI oracle — mirrors
    * [[graft.operators.Analyze.halfSampleCI]] over events grouped by
    * event_type: the same md5 replica membership, exact integer
    * cents sums, and the IDENTICAL left-associated double tree for
    * replica means, their mean, and the spread. */
  private[graft] def halfSampleCiOracle(replicas: Int): String = {
    def mem(b: Int) =
      s"(('0x' || substr(md5('ci:$b:' || CAST(event_id AS VARCHAR))," +
        s" 1, 14))::BIGINT % 2 = 0)"
    val sums = (0 until replicas).map { b =>
      s"""CAST(sum(CASE WHEN ${mem(b)}
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS s$b,
          CAST(sum(CASE WHEN ${mem(b)} THEN 1 ELSE 0 END) AS BIGINT)
            AS n$b"""
    }.mkString(",\n          ")
    val ms = (0 until replicas).map(b =>
      s"(CAST(s$b AS DOUBLE) / CAST(n$b AS DOUBLE))")
    val mbar = s"(${ms.mkString(" + ")}) / $replicas.0"
    val varE = ms.map(m => s"($m - ($mbar)) * ($m - ($mbar))")
      .mkString(" + ")
    val guard = (0 until replicas).map(b => s"n$b > 0").mkString(" AND ")
    s"""WITH g AS (
         SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           $sums
         FROM events GROUP BY event_type
       )
       SELECT event_type, n, sum_cents,
              CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
              CASE WHEN $guard
                   THEN sqrt(($varE) / $replicas.0)
                   ELSE NULL END AS half_sample_std_cents
       FROM g ORDER BY event_type"""
  }

  /** q188: the K-FOLD CV oracle — the [[sigmoidGdGroupedOracle]]
    * machinery keyed by model over a fold-replicated train set
    * (model m trains on every fold except m; deterministic md5
    * folds), then the [[sigmoidAucOracle]] rank arithmetic per model
    * over its HELD-OUT fold. Retrains all k models from raw text and
    * replays every per-fold AUC bit-for-bit. */
  private[graft] def sigmoidCvOracle(folds: Int, rounds: Int,
      lr: String): String = {
    val nF = 7
    val roundCtes = (1 to rounds).map { i =>
      val grads = (0 until nF).map(j =>
        s"""CAST(sum(CAST(round(((p - y) * x$j) * 1000000) AS BIGINT))
               AS BIGINT) AS g$j""").mkString(", ")
      val updates = (0 until nF).map(j =>
        s"w.w$j - $lr * ((g.g$j / 1000000.0) / CAST(g.n AS DOUBLE)) AS w$j")
        .mkString(", ")
      s"""s$i AS MATERIALIZED (
           SELECT f.*, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p
           FROM (SELECT f.*, (${sigmoidZExpr("w")}) AS z
                 FROM ftrain f JOIN w${i - 1} w USING (model)) f
         ), g$i AS MATERIALIZED (
           SELECT model, CAST(count(*) AS BIGINT) AS n,
                  $grads
           FROM s$i GROUP BY model
         ), w$i AS MATERIALIZED (
           SELECT g.model, $updates
           FROM w${i - 1} w JOIN g$i g USING (model)
         )"""
    }.mkString(", ")
    val w0 = (0 until nF).map(j => s"0.0 AS w$j").mkString(", ")
    s"""WITH m AS MATERIALIZED (
         SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_i,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS BIGINT) AS n_alpha_i,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS BIGINT) AS n_words_i,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split_regex(lower(text), '\\s+'))
                AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS DOUBLE) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS DOUBLE) AS n_digit,
           CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                AS DOUBLE) AS n_punct,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                AS DOUBLE) AS n_upper,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ($stopwordsSqlList))) AS DOUBLE) AS n_stop,
           CAST(('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)),
                 1, 14))::BIGINT % $folds AS BIGINT) AS fold
         FROM documents
       ), f AS MATERIALIZED (
         SELECT doc_id, fold, 1.0 AS x0,
           n_alpha / greatest(n_chars_d, 1.0) AS x1,
           n_digit / greatest(n_chars_d, 1.0) AS x2,
           n_punct / greatest(n_chars_d, 1.0) AS x3,
           n_upper / greatest(n_chars_d, 1.0) AS x4,
           n_stop / greatest(n_words, 1.0) AS x5,
           (n_alpha * 100.0 - n_chars_d * 82.0) / greatest(n_chars_d, 1.0)
             AS x6,
           CASE WHEN n_alpha_i * 100 >= n_chars_i * 82 AND n_words_i >= 5
                THEN 1.0 ELSE 0.0 END AS y
         FROM m
       ), ftrain AS MATERIALIZED (
         SELECT f.*, 'm' || CAST(g.g AS VARCHAR) AS model
         FROM f CROSS JOIN (SELECT unnest(range($folds)) AS g) g
         WHERE g.g <> f.fold
       ), w0 AS (
         SELECT DISTINCT model, $w0 FROM ftrain
       ), $roundCtes,
       za AS (
         SELECT 'm' || CAST(f.fold AS VARCHAR) AS model, f.doc_id,
                (${sigmoidZExpr("w")}) AS z
         FROM f JOIN w$rounds w ON w.model = 'm' || CAST(f.fold AS VARCHAR)
       ), sc AS (
         SELECT za.model,
                CAST(round((0.5 * (1.0 + z / (1.0 + abs(z)))) * 1000000)
                     AS BIGINT) AS score_micro,
                CASE WHEN m.n_alpha * 100 >= m.n_chars_d * 82
                          AND m.n_stop * 100 >= m.n_words * 5
                     THEN 1.0 ELSE 0.0 END AS gold
         FROM za JOIN m USING (doc_id)
       ), g AS (
         SELECT model, score_micro,
                CAST(sum(CASE WHEN gold = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS tp,
                CAST(sum(CASE WHEN gold = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS tn
         FROM sc GROUP BY 1, 2
       ), c AS (
         SELECT model, tp, tn,
                CAST(sum(tn) OVER (PARTITION BY model ORDER BY score_micro
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - tn AS cn
         FROM g
       ), tot AS (
         SELECT model, CAST(sum(tp) AS BIGINT) AS n_pos,
                CAST(sum(tn) AS BIGINT) AS n_neg,
                CAST(sum(tp * (2 * cn + tn)) AS BIGINT) AS auc_num2
         FROM c GROUP BY model
       )
       SELECT model, n_pos, n_neg, auc_num2,
              CAST(auc_num2 AS DOUBLE)
                / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) AS auc
       FROM tot ORDER BY model"""
  }

  /** q259 oracle — the sketch-tier overlap matrix replayed register
    * by register: per-source HLL registers over distinct (source,
    * shingle) pairs, the single-source estimator, pairwise
    * register-wise max + the union estimator, inclusion-exclusion,
    * and the exact intersection counts joined in. */
  private[graft] def hllOverlapOracle(p: Int, salt: String): String = {
    val m = 1 << p
    val remBits = 60 - p
    val maxM = remBits + 1
    val alphaM2 = Sketch.hllAlpha(m) * m * m
    val twoK = math.pow(2.0, maxM)
    def estChain(pref: String, src: String, groupSql: String): String =
      s"""${pref}agg AS (
         SELECT $groupSql, CAST(count(*) AS BIGINT) AS n_used,
                CAST(sum(1::BIGINT << ($maxM - mb)) AS BIGINT) AS sp
         FROM $src GROUP BY $groupSql
       ), ${pref}fin AS (
         SELECT $groupSql, n_used,
                CAST(sp + ($m - n_used) * (1::BIGINT << $maxM) AS BIGINT) AS s,
                $m - n_used AS v
         FROM ${pref}agg
       ), ${pref}est AS (
         SELECT $groupSql, n_used,
                CASE WHEN $alphaM2 * ($twoK / CAST(s AS DOUBLE)) <= ${2.5 * m}
                          AND v > 0
                     THEN ${m.toDouble} * ln(${m.toDouble} / CAST(v AS DOUBLE))
                     ELSE $alphaM2 * ($twoK / CAST(s AS DOUBLE)) END AS est
         FROM ${pref}fin
       )"""
    s"""WITH w AS (
         SELECT source, string_split_regex(text, '\\s+') AS words
         FROM documents
       ), shd AS (
         SELECT DISTINCT source, shingle FROM (
           SELECT source, unnest(
             CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                  ELSE [array_to_string(words[i:i+2], ' ')
                        for i in range(1, len(words) - 1)]
             END) AS shingle
           FROM w)
       ), hh AS (
         SELECT source,
                ('0x' || substr(md5('$salt:' || shingle), 1, 15))::BIGINT AS h
         FROM shd
       ), reg AS (
         SELECT source, h >> $remBits AS bucket,
                h & ((1::BIGINT << $remBits) - 1) AS r
         FROM hh
       ), mm AS (
         SELECT source, bucket,
                max(CASE WHEN r = 0 THEN $maxM
                         ELSE $maxM - length(bin(r)) END) AS mb
         FROM reg GROUP BY source, bucket
       ),
       ${estChain("s_", "mm", "source")},
       grp AS (SELECT DISTINCT source FROM mm),
       prs AS (
         SELECT a.source AS source_a, b.source AS source_b
         FROM grp a, grp b WHERE a.source < b.source
       ), pm AS (
         SELECT source_a, source_b, bucket, max(mb) AS mb FROM (
           SELECT p.source_a, p.source_b, m1.bucket, m1.mb
           FROM prs p JOIN mm m1 ON m1.source = p.source_a
           UNION ALL
           SELECT p.source_a, p.source_b, m2.bucket, m2.mb
           FROM prs p JOIN mm m2 ON m2.source = p.source_b)
         GROUP BY source_a, source_b, bucket
       ),
       ${estChain("u_", "pm", "source_a, source_b")},
       exx AS (
         SELECT a.source AS source_a, b.source AS source_b,
                CAST(count(*) AS BIGINT) AS n_inter_exact
         FROM shd a JOIN shd b
           ON a.shingle = b.shingle AND a.source < b.source
         GROUP BY a.source, b.source
       )
       SELECT u.source_a, u.source_b, u.n_used AS n_used_union,
              sa.est AS est_a, sb.est AS est_b, u.est AS est_union,
              sa.est + sb.est - u.est AS est_inter,
              CAST(coalesce(exx.n_inter_exact, 0) AS BIGINT) AS n_inter_exact
       FROM u_est u
       JOIN s_est sa ON sa.source = u.source_a
       JOIN s_est sb ON sb.source = u.source_b
       LEFT JOIN exx ON exx.source_a = u.source_a
                    AND exx.source_b = u.source_b
       ORDER BY u.source_a, u.source_b"""
  }

  /** q251 oracle — the planted anchor corpus restated: the shared
    * syntheticUrl arithmetic folded to its registrable domain (the
    * q90/q239 machinery) and the mod-4 anchor text split into
    * tokens, counted per (domain, token). The relative link never
    * enters (the query keeps absolute links only). */
  private[graft] def anchorRollupOracle: String = {
    val sufs = UrlOps.publicSuffixes.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    val anchors = anchorTexts.map(a => s"'$a'").mkString(", ")
    s"""WITH u AS (
         SELECT doc_id,
                (['https://ex', 'https://news.ex', 'https://WWW.ex',
                  'https://a.b.ex', 'https://ex', 'https://sub.ex'])[(doc_id % 6) + 1]
                  || CAST(doc_id % 20 AS VARCHAR)
                  || (['.com/p', '.co.uk/a', '.co.uk/b',
                      '.com.au/x', '.org/y', '.de/z'])[(doc_id % 6) + 1]
                  || '?x=1&y=2' AS url,
                ([$anchors])[(doc_id % 4) + 1] AS anchor
         FROM documents
       ), h AS (
         SELECT doc_id, anchor,
                regexp_replace(
                  lower(regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$$', '', 'g'),
                                   '\\?.*$$', '', 'g'),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$$', 2)),
                  '^www\\.', '', 'g') AS host
         FROM u
       ), l AS (
         SELECT doc_id, anchor, host, string_split(host, '.') AS toks FROM h
       ), r AS (
         SELECT doc_id, anchor,
                CASE WHEN len(toks) <= 2 THEN host
                     WHEN toks[-2] || '.' || toks[-1] IN ($sufs)
                       THEN toks[-3] || '.' || toks[-2] || '.' || toks[-1]
                     ELSE toks[-2] || '.' || toks[-1] END AS domain
         FROM l
       ), tk AS (
         SELECT domain, unnest(string_split(anchor, ' ')) AS token FROM r
       )
       SELECT domain, token, CAST(count(*) AS BIGINT) AS n_mentions
       FROM tk GROUP BY domain, token ORDER BY domain, token"""
  }

  /** The DSIR CTE chain (q248, reused over the q249 capstone's
    * gated corpus): hashed-unigram bucket counts for target
    * (mod-7 slice of `source`) and raw (the rest), add-one ratio
    * weights in integer micros, and the deterministic Gumbel keys.
    * `source` must expose (doc_id, text). Ends with CTE `g`
    * (doc_id, n_tokens, weight_micros, gumbel_micros); used WITHOUT
    * a leading WITH. */
  private[graft] def dsirCtes(source: String): String =
    s"""tgt AS (
         SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '')) AS tok
         FROM $source WHERE doc_id % 7 = 0
       ), tb AS (
         SELECT ('0x' || substr(md5('dsir:' || tok), 1, 14))::BIGINT % 1024 AS b,
                CAST(count(*) AS BIGINT) AS ct
         FROM tgt GROUP BY 1
       ), nt AS (
         SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tb
       ), rawt AS (
         SELECT doc_id,
                unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '')) AS tok
         FROM $source WHERE doc_id % 7 <> 0
       ), pd AS (
         SELECT doc_id,
                ('0x' || substr(md5('dsir:' || tok), 1, 14))::BIGINT % 1024 AS b,
                CAST(count(*) AS BIGINT) AS c
         FROM rawt GROUP BY doc_id, b
       ), rb AS (
         SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM pd GROUP BY b
       ), nr AS (
         SELECT CAST(sum(cr) AS BIGINT) AS nr FROM rb
       ), w AS (
         SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_tokens,
                CAST(sum(CAST(round(ln(
                    (CAST(coalesce(tb.ct, 0) + 1 AS DOUBLE)
                      / CAST(nt.nt + 1024 AS DOUBLE))
                    / (CAST(rb.cr + 1 AS DOUBLE)
                      / CAST(nr.nr + 1024 AS DOUBLE))
                  ) * 1e6) AS BIGINT) * pd.c) AS BIGINT) AS weight_micros
         FROM pd
         LEFT JOIN tb ON tb.b = pd.b
         JOIN rb ON rb.b = pd.b
         CROSS JOIN nt CROSS JOIN nr
         GROUP BY pd.doc_id
       ), g AS (
         SELECT doc_id, n_tokens, weight_micros,
                CAST(round(-ln(-ln(
                    (CAST(('0x' || substr(md5('gumbel:'
                       || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS DOUBLE)
                      + 0.5) / 72057594037927936.0
                  )) * 1e6) AS BIGINT) AS gumbel_micros
         FROM w
       )"""

  /** Stupid-Backoff heldout-scoring chain shared by the q281 CCNet
    * bucketing and q282 epoch-budgeting oracles: trains the q243 LM
    * on 90% of docs, scores the held-out 10% — ends in
    * `sc(doc_id, n_trigrams, lp_micros)`. The ladder text is q243's
    * verbatim (same ln micro-quantization, same CASE order). The
    * holdout is the SALTED-HASH 1/10 sample (not q243's `doc_id %
    * 10`): doc_id blocks correlate with `source` in the testdata, so
    * the modulo split would leave most sources without held-out
    * docs — the hash split covers every source uniformly.
    * [[sbScoreCtes]] generalizes the SCORED set (q286 scores every
    * doc under the same 90% model). */
  private[graft] val sbHeldoutCtes: String =
    sbScoreCtes(s"${splitHashSql("ppl", 10)} < 1")
  private[graft] def sbScoreCtes(scoreWhere: String): String =
    s"""tr AS (
         SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '') AS ts
         FROM documents WHERE ${splitHashSql("ppl", 10)} >= 1
       ), c1 AS (
         SELECT tok AS w, CAST(count(*) AS BIGINT) AS c1
         FROM (SELECT unnest(ts) AS tok FROM tr) GROUP BY tok
       ), tot AS (
         SELECT CAST(sum(c1) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS v FROM c1
       ), c2 AS (
         SELECT b.u AS u, b.v AS v, CAST(count(*) AS BIGINT) AS c2
         FROM (SELECT unnest([{'u': ts[i], 'v': ts[i+1]}
                              for i in range(1, len(ts))]) AS b
               FROM tr WHERE len(ts) >= 2)
         GROUP BY b.u, b.v
       ), c3 AS (
         SELECT g.u AS u, g.v AS v, g.w AS w,
                CAST(count(*) AS BIGINT) AS c3
         FROM (SELECT unnest([{'u': ts[i], 'v': ts[i+1], 'w': ts[i+2]}
                              for i in range(1, len(ts) - 1)]) AS g
               FROM tr WHERE len(ts) >= 3)
         GROUP BY g.u, g.v, g.w
       ), sd AS (
         SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '') AS ts
         FROM documents WHERE $scoreWhere
       ), pd AS (
         SELECT doc_id, g.u AS u, g.v AS v, g.w AS w,
                CAST(count(*) AS BIGINT) AS c
         FROM (SELECT doc_id,
                      unnest([{'u': ts[i], 'v': ts[i+1], 'w': ts[i+2]}
                              for i in range(1, len(ts) - 1)]) AS g
               FROM sd WHERE len(ts) >= 3)
         GROUP BY doc_id, g.u, g.v, g.w
       ), sc AS (
         SELECT pd.doc_id,
                CAST(sum(pd.c) AS BIGINT) AS n_trigrams,
                CAST(sum(CAST(round(ln(CASE
                    WHEN c3.c3 IS NOT NULL
                      THEN CAST(c3.c3 AS DOUBLE) / CAST(uv.c2 AS DOUBLE)
                    WHEN vw.c2 IS NOT NULL
                      THEN 0.4 * (CAST(vw.c2 AS DOUBLE) / CAST(cv.c1 AS DOUBLE))
                    ELSE 0.4 * 0.4 *
                      (CAST(coalesce(cw.c1, 0) + 1 AS DOUBLE)
                        / CAST(t.n + t.v AS DOUBLE))
                  END) * 1e6) AS BIGINT) * pd.c) AS BIGINT) AS lp_micros
         FROM pd
         LEFT JOIN c3 ON c3.u = pd.u AND c3.v = pd.v AND c3.w = pd.w
         LEFT JOIN c2 uv ON uv.u = pd.u AND uv.v = pd.v
         LEFT JOIN c2 vw ON vw.u = pd.v AND vw.v = pd.w
         LEFT JOIN c1 cv ON cv.w = pd.v
         LEFT JOIN c1 cw ON cw.w = pd.w
         CROSS JOIN tot t
         GROUP BY pd.doc_id
       )"""

  /** q296's oracle: the same four gate expressions per doc, then one
    * generated UNION ALL arm per unordered gate pair restating the
    * pairwise / exclusive sums the Spark side computes in its single
    * aggregate — names and thresholds shared verbatim. */
  private[graft] def gateOverlapOracle: String = {
    val gs = overlapGateNames
    val stopList = overlapStopwords.map(w => s"'$w'").mkString(", ")
    val pairs = for { i <- gs.indices; j <- i until gs.size }
      yield (gs(i), gs(j))
    val arms = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS gate_a, '$b' AS gate_b,
            CAST(sum(CASE WHEN $a THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_a,
            CAST(sum(CASE WHEN $b THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_b,
            CAST(sum(CASE WHEN $a AND $b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_fail_both,
            CAST(sum(CASE WHEN $a AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_only_a
          FROM f"""
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
         SELECT n_chars,
                [t for t in string_split_regex(lower(text), '\\s+')
                 if t <> ''] AS toks
         FROM documents
       ), e AS (
         SELECT n_chars, CAST(len(toks) AS BIGINT) AS w,
                CAST(len(list_distinct(toks)) AS BIGINT) AS dw,
                CAST(len([t for t in toks if t in ($stopList)]) AS BIGINT)
                  AS st
         FROM d
       ), f AS (
         SELECT (n_chars < 150) AS len_short,
                (n_chars > 420) AS len_long,
                (st * 1000 < w * 60) AS stopword,
                (dw * 1000 < w * 520) AS ttr,
                (CASE WHEN n_chars < 150 THEN 1 ELSE 0 END
                 + CASE WHEN n_chars > 420 THEN 1 ELSE 0 END
                 + CASE WHEN st * 1000 < w * 60 THEN 1 ELSE 0 END
                 + CASE WHEN dw * 1000 < w * 520 THEN 1 ELSE 0 END) AS nf
         FROM e
       )
       SELECT * FROM ($arms) ORDER BY gate_a, gate_b"""
  }
}
