"""Webtext query surface: dedup / similarity / text-analysis operators
with DuckDB oracles (continues pyproj_spark.queries conventions).

Cross-engine determinism notes:
* token hashes are md5-based (identical in Spark and DuckDB);
* Spark regexp_replace is global; DuckDB needs the 'g' flag;
* DuckDB hex->int is CAST('0x'||h AS BIGINT), Spark is conv(h,16,10).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyproj_spark.io import read_table as _t
from pyproj_spark.operators import dedup, similarity, textstats
from pyproj_spark.operators.skew import spread_small_scan as _spread
from pyproj_spark.sources.blobs import (avi_blob, image_header_blob,
                                        jpeg_blob, png_blob,
                                        progressive_blob, resize_blob,
                                        rgb, sawtooth_wav, tone_wav,
                                        with_blobs)


def _docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents")


_NORM_SQL = ("trim(regexp_replace(regexp_replace(lower(text), "
             "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")
_H8 = "CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by 80-char normalized-prefix hash."""
    return dedup.exact_dedup_groups(_docs(spark, sf_dir), prefix=80)


SQL_DEDUP_EXACT = f"""
WITH k AS (
  SELECT doc_id, md5(substr({_NORM_SQL}, 1, 80)) AS text_hash
  FROM documents
)
SELECT text_hash, count(*) AS dup_count, min(doc_id) AS min_id
FROM k GROUP BY 1 HAVING count(*) > 1
"""


def q_token_stats(spark, sf_dir):
    from pyproj_spark.operators.textstats import word_chunk_count
    df = textstats.quality_features(_docs(spark, sf_dir))
    return df.select("doc_id", "n_chars", "n_tokens", "punct_ratio",
                     "stopword_ratio", "mean_token_len",
                     word_chunk_count(F.col("text")).alias("n_bpe_tokens"))


SQL_TOKEN_STATS = """
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
             AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
             AS n_punct,
         CAST((length(' '||lower(text)||' ')
               - length(replace(' '||lower(text)||' ', ' the ', ''))) / 5
          + (length(' '||lower(text)||' ')
               - length(replace(' '||lower(text)||' ', ' and ', ''))) / 5
          + (length(' '||lower(text)||' ')
               - length(replace(' '||lower(text)||' ', ' of ', ''))) / 4
          AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
       round(n_stop / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_chars / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END, 4) AS mean_token_len,
       CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
            AS BIGINT) AS n_bpe_tokens
FROM t
"""


def q_quality_filter(spark, sf_dir):
    """Gopher-style quality filtering (the training-data pipeline gate):
    rule thresholds over the oracle-verified quality features; returns
    the keep/drop histogram with mean token count per bucket. Built ON
    the token_stats surface so both engines threshold identical rounded
    values — no float-boundary flakiness."""
    ts = q_token_stats(spark, sf_dir)
    kept = ((F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 100000)
            & (F.col("mean_token_len") >= 3.0)
            & (F.col("mean_token_len") <= 12.0)
            & (F.col("stopword_ratio") >= 0.01)
            & (F.col("punct_ratio") <= 0.3))
    return (ts.select(kept.alias("kept"), "n_tokens")
            .groupBy("kept")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.avg("n_tokens"), 4).alias("avg_tokens")))


def q_lang_id(spark, sf_dir):
    df = textstats.lang_id(_docs(spark, sf_dir))
    return df.groupBy("lang_pred").agg(F.count("*").alias("cnt"))


def _marker_sql(markers):
    parts = [f"CAST((length(p) - length(replace(p, '{m}', ''))) "
             f"/ {len(m)} AS BIGINT)" for m in markers]
    return " + ".join(parts)


SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {_marker_sql([' the ', ' and ', ' of '])} AS s_en,
         {_marker_sql([' der ', ' und ', ' die '])} AS s_de,
         {_marker_sql([' le ', ' la ', ' et '])} AS s_fr,
         {_marker_sql([' el ', ' de ', ' que '])} AS s_es
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)
)
SELECT CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       count(*) AS cnt
FROM s GROUP BY 1
"""


SQL_QUALITY_FILTER = f"""
WITH ts AS ({{token_stats}})
SELECT (n_tokens >= 50 AND n_tokens <= 100000
        AND mean_token_len >= 3.0 AND mean_token_len <= 12.0
        AND stopword_ratio >= 0.01 AND punct_ratio <= 0.3) AS kept,
       count(*) AS cnt,
       round(avg(n_tokens), 4) AS avg_tokens
FROM ts GROUP BY 1
"""


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir)) \
        .select("doc_id", "fingerprint")


SQL_FINGERPRINT = f"""
SELECT doc_id, substr(md5({_NORM_SQL}), 1, 16) AS fingerprint
FROM documents
"""


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_spread(_docs(spark, sf_dir)), num_hashes=8,
                                   bands=4)


def _mh_sql(i):
    from pyproj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
    h = _H8.format(expr="'0:' || t")
    perm = (f"(({h}) % 2147483648 * {MINHASH_A[i]} + {MINHASH_B[i]}) "
            f"% {MINHASH_P}")
    return (f"list_min([{perm} FOR t IN str_split({_NORM_SQL}, ' ')])"
            f" AS mh{i}")


# mirrors minhash_lsh_pairs' hot-band guard: bands with <= 64 members
# emit all pairs, hot bands emit star edges from the min id. Shared by
# the pair query and the connected-components cluster query.
_MINHASH_PAIRS_CTE = f"""
sig AS (
  SELECT doc_id, {', '.join(_mh_sql(i) for i in range(8))}
  FROM documents
),
bands AS (
  SELECT doc_id, unnest([
    '0:' || md5(concat_ws('_', '0', mh0, mh1)),
    '1:' || md5(concat_ws('_', '1', mh2, mh3)),
    '2:' || md5(concat_ws('_', '2', mh4, mh5)),
    '3:' || md5(concat_ws('_', '3', mh6, mh7))
  ]) AS band_key
  FROM sig
),
g AS (
  SELECT band_key, list_sort(list(doc_id)) AS ids, count(*) AS cnt
  FROM bands GROUP BY band_key HAVING count(*) >= 2
),
small AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM (SELECT band_key, unnest(ids) AS id FROM g WHERE cnt <= 64) a
  JOIN (SELECT band_key, unnest(ids) AS id FROM g WHERE cnt <= 64) b
    USING (band_key)
  WHERE a.id < b.id
),
hot AS (
  SELECT ids[1] AS id_a, unnest(ids[2:]) AS id_b FROM g WHERE cnt > 64
),
pairs AS (
  SELECT DISTINCT id_a, id_b
  FROM (SELECT id_a, id_b FROM small UNION ALL SELECT id_a, id_b FROM hot)
)"""

SQL_MINHASH = f"""
WITH {_MINHASH_PAIRS_CTE}
SELECT id_a, id_b FROM pairs
ORDER BY id_a, id_b
"""


def q_dedup_clusters(spark, sf_dir):
    """Dedup RESOLUTION: minhash-LSH candidate pairs -> connected
    components (min-label propagation) -> (cluster representative,
    size). The full 100-TB dedup story end to end: exact dedup +
    LSH pairs + cluster resolution keeping one canonical doc."""
    from pyproj_spark.operators.cc import dedup_clusters
    # star_only: CC needs connectivity, not pairs — identical
    # components with O(members) edges per band (the oracle's
    # recursive CTE computes components from ITS all-pairs edges, so
    # the cluster table it checks is unchanged)
    pairs = dedup.minhash_lsh_pairs(_spread(_docs(spark, sf_dir)), num_hashes=8,
                                    bands=4, star_only=True)
    return dedup_clusters(pairs)


# transitive closure via recursive CTE: reach(id, r) = r is reachable
# from id; rep = min reachable id — identical canonical label to the
# Spark min-propagation
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTE},
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id
),
comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
SELECT rep, count(*) AS cluster_size FROM comp GROUP BY rep
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=16) \
        .select("doc_id", "simhash")


SQL_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, {_H8.format(expr="'999:' || t")} AS h
  FROM documents, UNNEST(str_split({_NORM_SQL}, ' ')) AS u(t)
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitv
  FROM tok CROSS JOIN (SELECT unnest(range(16)) AS b) r
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(SUM(bitv) AS BIGINT) AS simhash FROM bits GROUP BY doc_id
"""


def q_jaccard_3gram(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.jaccard_pairs(docs, n=3, threshold=0.2)


SQL_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, str_split({_NORM_SQL}, ' ') AS tk
  FROM documents WHERE doc_id < 300
),
sh AS (
  SELECT DISTINCT doc_id,
         {_H8.format(expr="tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3]")}
             AS shingle_hash
  FROM toks, UNNEST(range(greatest(len(tk) - 2, 0))) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (
  SELECT shingle_hash FROM sh GROUP BY shingle_hash
  HAVING count(*) BETWEEN 2 AND 50
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle_hash)
  JOIN rare USING (shingle_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4)
           AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.2
ORDER BY id_a, id_b
"""


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10) \
                 .withColumnRenamed("vec_id", "qid")
    return similarity.cosine_topk(emb.filter(F.col("vec_id") < 1000),
                                  queries, k=3)


SQL_EMBEDDING_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 1000),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 10),
cand AS (
  SELECT qid, vec_id,
         round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(qv, qv))), 6) AS sim
  FROM e CROSS JOIN q WHERE vec_id != qid
),
ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
             AS rank
  FROM cand
)
SELECT qid, rank, vec_id, sim FROM ranked WHERE rank <= 3
"""


def q_ivf_ann(spark, sf_dir):
    """IVF ANN (the other scale path next to LSH): md5-derived pseudo
    centroids -> argmax-dot cell assignment -> queries probe their top
    nprobe cells -> exact cosine re-rank inside the probed cells. The
    whole pipeline (centroids, quantization, probing, re-rank) is
    reproduced in DuckDB SQL and hash-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10) \
                 .withColumnRenamed("vec_id", "qid")
    return similarity.ivf_topk(emb.filter(F.col("vec_id") < 500), queries,
                               k=3, n_centroids=8, nprobe=2, dim=64)


_IVF_COMP = ("((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || "
             "CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 20001 - 10000)"
             " / 10000.0)")

SQL_IVF_ANN = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 500),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 10),
js AS (SELECT unnest(generate_series(0, 7)) AS j),
escore AS (
  SELECT vec_id, v, j,
         list_sum(list_transform(generate_series(1, len(v)),
                                 i -> v[i] * {_IVF_COMP})) AS s
  FROM e CROSS JOIN js
),
ecell AS (
  SELECT vec_id, any_value(v) AS v,
         list_position(list(s ORDER BY j), list_max(list(s ORDER BY j)))
             AS cell
  FROM escore GROUP BY vec_id
),
qscore AS (
  SELECT qid, qv, j,
         list_sum(list_transform(generate_series(1, len(qv)),
                                 i -> qv[i] * {_IVF_COMP})) AS s
  FROM q CROSS JOIN js
),
probes AS (
  SELECT qid, qv, j + 1 AS cell
  FROM (SELECT qid, qv, j, s,
               row_number() OVER (PARTITION BY qid ORDER BY s DESC, j)
                   AS r
        FROM qscore)
  WHERE r <= 2
),
cand AS (
  SELECT qid, vec_id,
         round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(qv, qv))), 6) AS sim
  FROM ecell JOIN probes USING (cell)
  WHERE vec_id != qid
),
ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
             AS rank
  FROM cand
)
SELECT qid, rank, vec_id, sim FROM ranked WHERE rank <= 3
"""


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (scale path). The md5-derived hyperplanes are
    deterministic, so the full signature -> bucket -> re-rank pipeline
    is reproduced in DuckDB SQL and hash-checked (recall vs brute force
    is additionally measured in tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_lsh(emb.filter(F.col("vec_id") < 500),
                                   k=3, n_planes=4, dim=64)


def _plane_sum_sql(p: int) -> str:
    """Mirror of similarity._plane_component: a pseudo-random component
    per (plane, dim) from md5, folded against the vector."""
    comp = (f"((CAST(('0x' || substr(md5('{p}:' || k), 1, 8)) AS BIGINT)"
            f" % 20001 - 10000) / 10000.0)")
    return (f"list_sum([v[k + 1] * {comp} "
            f"FOR k IN range(len(v))]) AS s{p}")


SQL_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < 500
),
sig AS (
  SELECT vec_id, v, {', '.join(_plane_sum_sql(p) for p in range(4))}
  FROM e
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
       | (CASE WHEN s1 > 0 THEN 2 ELSE 0 END)
       | (CASE WHEN s2 > 0 THEN 4 ELSE 0 END)
       | (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) AS bucket
  FROM sig
),
cand AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         round(list_dot_product(a.v, b2.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b2.v, b2.v))), 6) AS sim
  FROM b a JOIN b b2 USING (bucket)
  WHERE a.vec_id != b2.vec_id
),
ranked AS (
  SELECT id_a, id_b, sim,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY sim DESC, id_b) AS rank
  FROM cand
)
SELECT id_a, rank, id_b, sim FROM ranked WHERE rank <= 3
"""


# ------------------------------------------------ multimodal fixture blobs

def q_image_meta(spark, sf_dir):
    """Multimodal image metadata, oracle-checked end to end: each doc
    gets a REAL PNG or JPEG header constructed from its id, and
    image_meta parses format/width/height back from the raw bytes —
    the oracle recomputes the expected dimensions arithmetically, so
    the construct->parse round trip through genuine container bytes is
    driver-gated."""
    from pyproj_spark.operators.multimodal import image_meta

    blobs = with_blobs(_docs(spark, sf_dir), image_header_blob)
    return image_meta(blobs, "payload").select(
        F.col("url").cast("long").alias("doc_id"),
        "format", "width", "height", "n_bytes", "orientation")


SQL_IMAGE_META = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
       CAST(doc_id % 1024 + 1 AS INTEGER) AS width,
       CAST(doc_id % 768 + 1 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 51 ELSE 29 END AS BIGINT)
           AS n_bytes,
       CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 8 + 1 END
            AS INTEGER) AS orientation
FROM documents
"""


def q_png_decode(spark, sf_dir):
    """REAL pixel-level multimodal decode, oracle-checked end to end:
    each doc gets a complete valid RGB PNG (deterministic gradient
    pixels, zlib-compressed IDAT, CRC-correct chunks); png_stats then
    INFLATES AND UNFILTERS the actual byte stream
    (operators/multimodal.py decode_png) and reports dimensions + mean
    pixel value, which the DuckDB oracle recomputes arithmetically from
    the same gradient formula."""
    from pyproj_spark.operators.multimodal import png_stats

    blobs = with_blobs(_docs(spark, sf_dir), png_blob)
    return png_stats(blobs, "payload").select(
        F.col("url").cast("long").alias("doc_id"),
        "width", "height", "n_channels", "mean_luma")


SQL_PNG_DECODE = """
WITH d AS (
  SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents
),
xr AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d
),
xy AS (
  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xr
),
px AS (
  SELECT doc_id, w, h,
         ((x * 7 + doc_id) % 256) + ((y * 13 + doc_id * 3) % 256)
         + ((x + y) % 256) AS s
  FROM xy
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       SUM(s) * 1.0 / (w * h * 3) AS mean_luma
FROM px GROUP BY doc_id, w, h
"""


def q_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode, oracle-checked end to end: each doc
    gets a complete valid grayscale JFIF JPEG (per-8x8-block constant
    values from a deterministic formula, all-ones quantization so the
    DC path is exact) from the kernels/jpeg.py ENCODER; jpeg_stats then
    runs the full DECODER — marker parse, Huffman entropy decode,
    dequantize, IDCT — and the DuckDB oracle recomputes mean luma
    arithmetically from the same block formula. Constant blocks make
    the lossy DCT path bit-exact (only the DC coefficient is nonzero
    and quant=1 keeps it integer), so this is a value-hash gate over a
    genuinely decoded bitstream."""
    from pyproj_spark.operators.multimodal import jpeg_stats

    blobs = with_blobs(_spread(_docs(spark, sf_dir)), jpeg_blob)
    return jpeg_stats(blobs, "payload").select(
        F.col("url").cast("long").alias("doc_id"),
        "width", "height", "n_channels", "mean_luma")


SQL_JPEG_DECODE = """
WITH d AS (
  SELECT doc_id, doc_id % 3 + 1 AS bw, doc_id % 2 + 1 AS bh
  FROM documents
),
bx AS (
  SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS x FROM d
),
blocks AS (
  SELECT doc_id, bw, bh, x, unnest(generate_series(0, bh - 1)) AS y
  FROM bx
)
SELECT doc_id, CAST(bw * 8 AS INTEGER) AS width,
       CAST(bh * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       SUM((x * 29 + y * 31 + doc_id * 17) % 256) * 1.0 / (bw * bh)
           AS mean_luma
FROM blocks GROUP BY doc_id, bw, bh
"""


def q_wav_features(spark, sf_dir):
    """REAL PCM-audio decode, oracle-checked end to end: each doc gets
    a complete valid 16-bit mono WAV (deterministic sawtooth-ish
    samples) synthesized via the kernels/riff.py fixture encoder;
    wav_features then parses the RIFF container and decodes the raw
    PCM, and the DuckDB oracle recomputes RMS/peak/duration
    arithmetically from the same sample formula."""
    from pyproj_spark.operators.multimodal import wav_features

    blobs = with_blobs(_docs(spark, sf_dir), lambda d: sawtooth_wav(
        d, n=d % 50 + 20, step=37, mul=11, period=200))
    return wav_features(blobs, "payload").select(
        F.col("url").cast("long").alias("doc_id"),
        "sample_rate", "n_samples", "n_channels",
        F.round("duration_s", 9).alias("duration_s"),
        F.round("rms", 6).alias("rms"), "peak")


SQL_WAV_FEATURES = """
WITH d AS (
  SELECT doc_id, doc_id % 50 + 20 AS n FROM documents
),
samples AS (
  SELECT doc_id, n,
         ((unnest(generate_series(0, n - 1)) * 37 + doc_id * 11) % 200)
         - 100 AS s
  FROM d
)
SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples, CAST(1 AS INTEGER) AS n_channels,
       ROUND(n / 8000.0, 9) AS duration_s,
       ROUND(SQRT(SUM(CAST(s AS DOUBLE) * s) / n), 6) AS rms,
       CAST(MAX(ABS(s)) AS INTEGER) AS peak
FROM samples GROUP BY doc_id, n
"""


def q_frame_sample(spark, sf_dir):
    """REAL video frame sampling, oracle-checked end to end: each doc
    gets a complete valid AVI container holding MJPG frames (16x16
    grayscale, per-frame constant value from a deterministic formula,
    each frame a real baseline JPEG from the kernels/jpeg.py encoder);
    video_frame_sample parses the RIFF structure, keeps every 2nd
    frame, and Huffman+IDCT-decodes each kept frame. The DuckDB oracle
    recomputes the sampled frame grid and per-frame mean arithmetically
    from the same formula."""
    from pyproj_spark.operators.multimodal import video_frame_sample

    blobs = with_blobs(_spread(_docs(spark, sf_dir)), avi_blob)
    return video_frame_sample(blobs, "payload", every_k=2).select(
        F.col("url").cast("long").alias("doc_id"),
        "frame_idx", "width", "height", "n_channels", "mean_luma")


SQL_FRAME_SAMPLE = """
WITH d AS (
  SELECT doc_id, doc_id % 5 + 2 AS n_frames FROM documents
),
sampled AS (
  SELECT doc_id,
         unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
  FROM d
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST((frame_idx * 53 + doc_id * 17) % 256 AS DOUBLE) AS mean_luma
FROM sampled
"""


def q_image_resize(spark, sf_dir):
    """REAL decode + resize across THREE container decoders, oracle-
    checked end to end: each doc gets a PNG (zlib inflate+unfilter),
    an uncompressed BMP, or a real-LZW GIF — same deterministic pixel
    formulas — decoded via decode_image's magic-byte dispatch then
    nearest-neighbor resized to 4x4 (source index = floor(i*src/dst));
    the DuckDB oracle recomputes the sampled pixel grid arithmetically
    — gating the normalize-to-fixed-shape step a training pipeline
    runs before tensorization."""
    from pyproj_spark.operators.multimodal import image_resize

    blobs = with_blobs(_spread(_docs(spark, sf_dir)), resize_blob)
    return image_resize(blobs, "payload", out_h=4, out_w=4,
                        method="nearest").select(
        F.col("url").cast("long").alias("doc_id"),
        "width", "height", "n_channels",
        F.round("mean_luma", 6).alias("mean_luma"))


SQL_IMAGE_RESIZE = """
WITH d AS (
  SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents
),
gi AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 3)) AS i FROM d
),
grid AS (
  SELECT doc_id, w, h, i, unnest(generate_series(0, 3)) AS j FROM gi
),
px AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 2
              THEN 3 * ((((j * w) // 4) * 7 + doc_id) % 256)
              ELSE (((j * w) // 4) * 7 + doc_id) % 256
                   + (((i * h) // 4) * 13 + doc_id * 3) % 256
                   + (((j * w) // 4) + ((i * h) // 4)) % 256 END AS s
  FROM grid
)
SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       ROUND(SUM(s) / 48.0, 6) AS mean_luma
FROM px GROUP BY doc_id
"""


def q_url_domains(spark, sf_dir):
    """Web-URL canonicalization + eTLD+1 aggregation (functions/web.py)
    — the dedup-key / per-domain-skew step of a Common-Crawl pipeline,
    entirely native Catalyst expressions. The synthesized URLs cover
    mixed-case schemes/hosts, default and non-default ports, query
    strings needing sorting, fragments, and multi-part public
    suffixes; the DuckDB oracle re-parses the same strings with ITS
    OWN string engine, so the two parsers gate each other."""
    from pyproj_spark.functions import web

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (d % 37).cast("string"),
        F.element_at(F.array(F.lit(".co.uk"), F.lit(".com"),
                             F.lit(".example.org"), F.lit(".net.au")),
                     (d % 4 + 1).cast("int")),
        F.when(d % 5 == 0, F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8443")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.concat(F.lit("/p/"), d.cast("string")))
        .otherwise(F.concat(F.lit("/a/b/c/"), d.cast("string"))),
        F.when(d % 6 == 0, F.lit("?z=9&a=1")).otherwise(F.lit("")),
        F.when(d % 9 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    p = web.url_parts(F.col("url"))
    enriched = docs.select(
        "doc_id",
        web.canonical_url(F.col("url")).alias("canonical"),
        p["host"].alias("host"),
        web.registered_domain(p["host"]).alias("rdom"),
        web.path_depth(p["path"]).alias("depth"))
    return (enriched.groupBy("rdom")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("host").alias("n_hosts"),
                 F.round(F.avg("depth"), 6).alias("avg_depth"),
                 F.sum(F.when(F.col("canonical").contains("?"), 1)
                       .otherwise(0)).alias("n_query"),
                 F.min("canonical").alias("min_canonical")))


SQL_URL_DOMAINS = """
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
    || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
    || 'site' || CAST(doc_id % 37 AS VARCHAR)
    || (['.co.uk', '.com', '.example.org', '.net.au'])[doc_id % 4 + 1]
    || CASE WHEN doc_id % 5 = 0 THEN ':443'
            WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
            ELSE '/a/b/c/' || CAST(doc_id AS VARCHAR) END
    || CASE WHEN doc_id % 6 = 0 THEN '?z=9&a=1' ELSE '' END
    || CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
parsed AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
        AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)',
                         1)) AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:(\\d+)',
                   1) AS port,
    regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM raw
),
canon AS (
  SELECT doc_id, host, path, scheme || '://' || host
    || CASE WHEN port = '' THEN ''
            WHEN scheme = 'http'  AND port = '80'  THEN ''
            WHEN scheme = 'https' AND port = '443' THEN ''
            ELSE ':' || port END
    || CASE WHEN path = '' THEN '/' ELSE path END
    || CASE WHEN query = '' THEN ''
            ELSE '?' || array_to_string(
                   list_sort(string_split(query, '&')), '&') END
        AS canonical
  FROM parsed
),
dom AS (
  SELECT doc_id, host, canonical,
    CASE
      WHEN len(string_split(host, '.')) <= 2 THEN host
      WHEN array_to_string(
             string_split(host, '.')[len(string_split(host, '.')) - 1:],
             '.') IN ('co.uk', 'org.uk', 'gov.uk', 'ac.uk', 'com.au',
                      'net.au', 'org.au', 'co.jp', 'ne.jp', 'or.jp',
                      'com.br', 'com.cn', 'com.mx', 'co.in', 'co.kr',
                      'co.za', 'com.ar', 'com.tr')
      THEN array_to_string(
             string_split(host, '.')[len(string_split(host, '.')) - 2:],
             '.')
      ELSE array_to_string(
             string_split(host, '.')[len(string_split(host, '.')) - 1:],
             '.')
    END AS rdom,
    len(list_filter(string_split(path, '/'), s -> s <> '')) AS depth
  FROM canon
)
SELECT rdom, COUNT(*) AS n_docs, COUNT(DISTINCT host) AS n_hosts,
       ROUND(AVG(depth), 6) AS avg_depth,
       CAST(SUM(CASE WHEN canonical LIKE '%?%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_query,
       MIN(canonical) AS min_canonical
FROM dom GROUP BY rdom
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals over the real documents
    text (operators/textstats.py repetition_features): duplicate-line
    fraction + most frequent word bigram; DuckDB recomputes both with
    its own list/window machinery."""
    from pyproj_spark.operators.textstats import repetition_features

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return repetition_features(docs)


SQL_REPETITION = """
WITH toks_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
base AS (
  SELECT doc_id, len(lines) AS n_lines,
         ROUND((len(lines) - len(list_distinct(lines)))
               * 1.0 / GREATEST(len(lines), 1), 6) AS dup_line_frac,
         GREATEST(len(toks) - 1, 0) AS n_bigrams
  FROM toks_t
),
tok_pos AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM toks_t
),
big AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram
  FROM tok_pos a JOIN tok_pos b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
cnt AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM big
  GROUP BY doc_id, bigram
),
top AS (
  SELECT doc_id, bigram, c FROM (
    SELECT doc_id, bigram, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, bigram) AS rn
    FROM cnt) WHERE rn = 1
)
SELECT base.doc_id, n_lines, dup_line_frac, n_bigrams,
       COALESCE(top.bigram, '') AS top_bigram,
       CAST(COALESCE(top.c, 0) AS BIGINT) AS top_bigram_cnt,
       ROUND(COALESCE(top.c, 0) * 1.0 / GREATEST(n_bigrams, 1), 6)
           AS top_bigram_frac
FROM base LEFT JOIN top ON base.doc_id = top.doc_id
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling (the reproducible
    language-balancing step of a curation pipeline,
    operators/sampling.py): per-language keep rates decided by
    md5(salt:doc_id), so the DuckDB oracle reproduces the EXACT kept
    row set — an RNG sampler could never be cross-engine-gated."""
    from pyproj_spark.operators.sampling import stratified_sample
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    kept = stratified_sample(docs, {"en": 0.5, "de": 0.25, "fr": 0.1},
                             stratum_col="lang", default_rate=0.75)
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"),
                 F.sum("doc_id").alias("id_sum")))


SQL_STRATIFIED_SAMPLE = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)),
                              1, 12)) AS BIGINT) % 1000000 AS bucket,
         CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                   WHEN 'fr' THEN 100000 ELSE 750000 END AS cut
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM h WHERE bucket < cut GROUP BY lang
"""


QUERIES_TEXT = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "quality_filter": (q_quality_filter,
                       SQL_QUALITY_FILTER.format(
                           token_stats=SQL_TOKEN_STATS)),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "jaccard_3gram": (q_jaccard_3gram, SQL_JACCARD),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "image_meta": (q_image_meta, SQL_IMAGE_META),
    "png_decode": (q_png_decode, SQL_PNG_DECODE),
    "jpeg_decode": (q_jpeg_decode, SQL_JPEG_DECODE),
    "wav_features": (q_wav_features, SQL_WAV_FEATURES),
    "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "image_resize": (q_image_resize, SQL_IMAGE_RESIZE),
    "url_domains": (q_url_domains, SQL_URL_DOMAINS),
    "repetition": (q_repetition, SQL_REPETITION),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "ivf_ann": (q_ivf_ann, SQL_IVF_ANN),
}


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (driver-mandated dedup
    family): all pairs above a cosine threshold, exact brute force over
    a bounded id range (the LSH path is `ann_lsh`)."""
    from pyproj_spark.operators.similarity import _dot, _norm
    # norms hoisted to one pass per VECTOR (the semdedup convention):
    # the pair stage then does one dot per pair instead of dot + two
    # norms — same sqrt/product/round ops on the same values
    emb = _t(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 300) \
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("v")) \
        .withColumn("n", _norm(F.col("v")))
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("v").alias("va"), F.col("n").alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
             .withColumn("sim", F.round(
                 _dot(F.col("va"), F.col("vb"))
                 / (F.col("na") * F.col("nb")), 6))
             .filter(F.col("sim") >= 0.30)
             .select("id_a", "id_b", "sim"))
    return pairs


SQL_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
"""

QUERIES_TEXT["embedding_neardup"] = (q_embedding_neardup,
                                     SQL_EMBEDDING_NEARDUP)


def q_pii_redact(spark, sf_dir):
    """PII detect + redact (training-data pipeline stage): the synthetic
    corpus carries no PII, so a deterministic contact footer derived
    from doc_id is appended with IDENTICAL string expressions in both
    engines (the established synthetic-blob pattern, cf. q_png_decode),
    then the pure-Catalyst detector counts each type over the original
    text and the redactor rewrites it; the oracle hash-checks the
    redacted text byte-for-byte. Docs with doc_id % 3 == 0 stay
    PII-free, doc_id % 4 == 1 additionally carries an SSN, so the
    count columns genuinely vary."""
    from pyproj_spark.operators import pii

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    email = F.concat(F.substring(F.md5(s(i)), 1, 8), F.lit("@mail"),
                     s(i % 5), F.lit(".example.com"))
    phone = F.concat(F.lit("555-"), F.lpad(s(i % 1000), 3, "0"),
                     F.lit("-"), F.lpad(s(i % 10000), 4, "0"))
    ip = F.concat(F.lit("10."), s(i % 256), F.lit("."),
                  s((i * 7) % 256), F.lit("."), s(i % 254 + 1))
    ssn = F.when(i % 4 == 1,
                 F.concat(F.lit(" ssn 078-05-"),
                          F.lpad(s(i % 10000), 4, "0"))) \
        .otherwise(F.lit(""))
    footer = F.when(i % 3 != 0,
                    F.concat(F.lit(" contact "), email, F.lit(" tel "),
                             phone, F.lit(" ip "), ip, ssn)) \
        .otherwise(F.lit(""))
    aug = d.select("doc_id", F.concat(F.col("text"), footer).alias("text"))
    rep = pii.pii_report(aug)
    return rep.select("doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone",
                      "n_pii", F.md5(F.col("redacted"))
                      .alias("redacted_hash"))


def _pii_sql():
    from pyproj_spark.operators.pii import PII_PATTERNS
    pats = {name: pat for name, pat, _tok in PII_PATTERNS}
    toks = {name: tok for name, _pat, tok in PII_PATTERNS}
    red = "text"
    for name, pat, tok in PII_PATTERNS:  # same order as the Spark side
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pats[n]}')) AS BIGINT)"
        f" AS n_{n}" for n in ("email", "ipv4", "ssn", "phone"))
    assert toks  # replacement tokens fixed by PII_PATTERNS
    return f"""
WITH aug AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 3 <> 0 THEN
      ' contact ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
      || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        || '.' || CAST(doc_id % 254 + 1 AS VARCHAR)
      || CASE WHEN doc_id % 4 = 1
              THEN ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                          4, '0')
              ELSE '' END
    ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  {counts},
  CAST(len(regexp_extract_all(text, '{pats["email"]}'))
       + len(regexp_extract_all(text, '{pats["ipv4"]}'))
       + len(regexp_extract_all(text, '{pats["ssn"]}'))
       + len(regexp_extract_all(text, '{pats["phone"]}')) AS BIGINT)
      AS n_pii,
  md5({red}) AS redacted_hash
FROM aug
"""


SQL_PII_REDACT = _pii_sql()

QUERIES_TEXT["pii_redact"] = (q_pii_redact, SQL_PII_REDACT)


def q_jpeg_progressive(spark, sf_dir):
    """REAL progressive-JPEG (SOF2) decode, oracle-checked end to end:
    same gated-decode construction as `jpeg_decode` but the fixture
    bytes come from kernels/jpeg.py's PROGRESSIVE encoder — an
    interleaved DC-first scan with successive approximation, DC
    refinement bit scans, and per-band AC scans whose all-zero AC
    coefficients exercise long EOBRUN coding across blocks. The
    decoder must walk all six scans (restart intervals included) to
    reconstruct the image; DuckDB recomputes the expected mean luma
    arithmetically from the same deterministic block formula."""
    from pyproj_spark.operators.multimodal import jpeg_stats

    blobs = with_blobs(_spread(_docs(spark, sf_dir)), progressive_blob)
    return jpeg_stats(blobs, "payload").select(
        F.col("url").cast("long").alias("doc_id"),
        "width", "height", "n_channels", "mean_luma")


SQL_JPEG_PROGRESSIVE = """
WITH d AS (
  SELECT doc_id, doc_id % 2 + 1 AS bw, doc_id % 3 + 1 AS bh
  FROM documents
),
bx AS (
  SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS x FROM d
),
blocks AS (
  SELECT doc_id, bw, bh, x, unnest(generate_series(0, bh - 1)) AS y
  FROM bx
)
SELECT doc_id, CAST(bw * 8 AS INTEGER) AS width,
       CAST(bh * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       SUM((x * 37 + y * 41 + (doc_id % 251) * 13) % 256) * 1.0
           / (bw * bh) AS mean_luma
FROM blocks GROUP BY doc_id, bw, bh
"""

QUERIES_TEXT["jpeg_progressive"] = (q_jpeg_progressive,
                                    SQL_JPEG_PROGRESSIVE)


def q_warc_ingest(spark, sf_dir):
    """WARC ingestion, oracle-checked end to end: documents are
    serialized into multi-record WARC/1.0 files (20 pages per file,
    warcinfo + request + response records; odd files use the
    Common-Crawl gzip-member-per-record layout) in one
    ``map_groups`` stage (``warc.warc_files``), then sources/warc.py
    parses the raw bytes back — Content-Length framing, type
    filtering, gzip inflate, HTTP header split, tag-stripping text
    extraction, lang attribute — and the oracle recomputes
    url/timestamp/html-hash/text-hash arithmetically from the same
    deterministic page construction. Round-tripping the corpus through
    real container bytes gates the byte-identity contract of the
    input_hint table shape."""
    from pyproj_spark.sources.warc import warc_date, warc_files, warc_pages

    def page(doc_id, text, lang):
        html = (f'<html lang="{lang}"><head><script>var x=1;'
                f'</script></head><body><p>{text}</p></body>'
                f'</html>').encode()
        return (f"https://ex.org/{doc_id}",
                warc_date(1704067200 + 60 * doc_id), html)

    warcs = warc_files(_docs(spark, sf_dir), ["doc_id", "text", "lang"],
                       20, page)
    pages = warc_pages(warcs)
    return pages.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "url",
        (F.unix_micros(F.col("warc_ts").cast("timestamp"))
         / F.lit(1000000)).cast("long").alias("ts_s"),
        F.md5("html").alias("html_hash"),
        F.md5("text").alias("text_hash"),
        "lang",
        "http_status",
        "content_type")


SQL_WARC_INGEST = """
SELECT doc_id,
  'https://ex.org/' || CAST(doc_id AS VARCHAR) AS url,
  1704067200 + 60 * doc_id AS ts_s,
  md5('<html lang="' || lang || '"><head><script>var x=1;</script>'
      || '</head><body><p>' || text || '</p></body></html>')
      AS html_hash,
  md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_hash,
  lang,
  CAST(200 AS INTEGER) AS http_status,
  'text/html; charset=utf-8' AS content_type
FROM documents
"""

QUERIES_TEXT["warc_ingest"] = (q_warc_ingest, SQL_WARC_INGEST)


def q_lm_score(spark, sf_dir):
    """Unigram-LM corpus quality scoring (the CCNet-style perplexity
    gate): train add-one-smoothed token logprobs over the WHOLE corpus
    (top-100 vocabulary via TakeOrdered, one corpus-wide token agg),
    broadcast the 101-row model back, and score every document's mean
    logprob. Two corpus aggregations + one broadcast join — the
    at-scale shape of every learned quality filter."""
    from pyproj_spark.operators.lm import (score_documents,
                                           train_unigram_lm)
    docs = _docs(spark, sf_dir)
    lm = train_unigram_lm(docs, vocab_size=100)
    return score_documents(docs, lm)


SQL_LM_SCORE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM counts),
vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token
          LIMIT 100),
lm AS (SELECT token, ln((cnt + 1.0) / (total + 100)) AS logp
       FROM vocab, tot),
scored AS (
  SELECT t.doc_id,
         coalesce(lm.logp,
                  (SELECT ln(1.0 / (total + 100)) FROM tot)) AS logp
  FROM toks t LEFT JOIN lm USING (token)
)
SELECT doc_id, count(*) AS n_toks, round(avg(logp), 5) AS mean_logp
FROM scored GROUP BY doc_id
"""

QUERIES_TEXT["lm_score"] = (q_lm_score, SQL_LM_SCORE)


def _robots_body(i: int) -> str:
    body = (f"# robots for d{i}\nUser-agent: *\nDisallow: /private\n"
            f"Allow: /private/ok\nDisallow: /tmp{i}\nCrawl-delay: 5\n")
    if i % 2 == 1:
        # consecutive UA lines: one group applying to both agents
        body += ("\nUser-agent: helper\nUser-agent: mybot\n"
                 "Disallow: /\nAllow: /public\n")
    return body


def q_robots_filter(spark, sf_dir):
    """robots.txt crawl gate (RFC 9309): per-domain robots bodies are
    PARSED by the real operator (line split, directive extraction,
    consecutive-user-agent group islands) and every page URL is
    evaluated — exact-agent group precedence over *, longest-match
    rule, Allow on ties, allowed when nothing matches. The oracle
    starts from the rules table the parse MUST produce and mirrors
    the evaluation, so a parsing bug surfaces as a decision
    mismatch."""
    from pyproj_spark.operators.robots import (evaluate_robots,
                                               parse_robots)
    robots = spark.createDataFrame(
        [(f"d{i}", _robots_body(i)) for i in range(10)],
        "domain string, body string")
    rules = parse_robots(robots)
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    path = (F.when(i % 5 == 0, F.concat(F.lit("/home/p"), i.cast("string")))
            .when(i % 5 == 1, F.concat(F.lit("/private/x"),
                                       i.cast("string")))
            .when(i % 5 == 2, F.concat(F.lit("/private/ok/y"),
                                       i.cast("string")))
            .when(i % 5 == 3, F.concat(F.lit("/tmp"),
                                       (i % 10).cast("string"),
                                       F.lit("/z")))
            .otherwise(F.lit("/public/w")))
    pages = d.select("doc_id",
                     F.concat(F.lit("d"), (i % 10).cast("string"))
                     .alias("domain"),
                     path.alias("path"))
    out = evaluate_robots(pages, rules, agent="MyBot")
    return out.select("doc_id", "domain", "path", "allowed",
                      "rule_path")


def _robots_sql():
    rows = []
    for i in range(10):
        rows += [f"('d{i}', '*', 'disallow', '/private')",
                 f"('d{i}', '*', 'allow', '/private/ok')",
                 f"('d{i}', '*', 'disallow', '/tmp{i}')"]
        if i % 2 == 1:
            for ag in ("helper", "mybot"):
                rows += [f"('d{i}', '{ag}', 'disallow', '/')",
                         f"('d{i}', '{ag}', 'allow', '/public')"]
    values = ", ".join(rows)
    return f"""
WITH pages AS (
  SELECT doc_id, 'd' || CAST(doc_id % 10 AS VARCHAR) AS domain,
    CASE doc_id % 5
      WHEN 0 THEN '/home/p' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/private/ok/y' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN '/tmp' || CAST(doc_id % 10 AS VARCHAR) || '/z'
      ELSE '/public/w' END AS path
  FROM documents
),
rules AS (SELECT * FROM (VALUES {values})
          AS r(domain, agent, directive, path)),
hasx AS (SELECT DISTINCT domain FROM rules WHERE agent = 'mybot'),
sel AS (
  SELECT r.domain, r.directive, r.path FROM rules r
  LEFT JOIN hasx h ON r.domain = h.domain
  WHERE (h.domain IS NOT NULL AND r.agent = 'mybot')
     OR (h.domain IS NULL AND r.agent = '*')
),
cand AS (
  SELECT p.doc_id, p.domain, p.path, s.directive, s.path AS rpath
  FROM pages p LEFT JOIN sel s
    ON p.domain = s.domain AND p.path LIKE s.path || '%'
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id
    ORDER BY length(rpath) DESC, (directive = 'allow') DESC) AS rk
  FROM cand
)
SELECT doc_id, domain, path,
       (directive IS NULL OR directive = 'allow') AS allowed,
       coalesce(rpath, '') AS rule_path
FROM ranked WHERE rk = 1
"""


QUERIES_TEXT["robots_filter"] = (q_robots_filter, _robots_sql())


def q_content_extract(spark, sf_dir):
    """Boilerplate removal (jusText-style context-free pass): each doc
    is wrapped in a deterministic page — link-dense nav, the document
    text as paragraphs, a script block, an anchor-heavy footer — and
    the extractor must keep exactly the body paragraphs. Block
    splitting, link-density scoring and content assembly run as
    Catalyst array HOFs; the oracle executes the identical regex
    pipeline through DuckDB list lambdas and the content itself is
    md5-gated."""
    from pyproj_spark.operators.content import extract_main_content

    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    nav = F.concat(
        F.lit('<div class="nav"><a href="/">home</a> '
              '<a href="/a">about</a> <a href="/c">contact'),
        i, F.lit("</a></div>"))
    body = F.concat(F.lit("<p>"), F.col("text"),
                    F.lit("</p><p>Short."), F.lit("</p>"))
    page = F.concat(
        F.lit("<html><head><script>var x = '<p>not content</p>';"
              "</script></head><body>"),
        nav, body,
        F.lit('<footer><a href="/t">terms</a> <a href="/p">privacy'),
        i, F.lit("</a></footer></body></html>"))
    out = extract_main_content(d.select("doc_id",
                                        page.alias("html_text")))
    return out.select("doc_id", "n_blocks", "n_good",
                      F.md5("content").alias("content_hash"),
                      "content_len")


def _content_extract_sql():
    from pyproj_spark.operators.content import content_sql
    page = (
        "'<html><head><script>var x = ''<p>not content</p>'';"
        "</script></head><body><div class=\"nav\">"
        "<a href=\"/\">home</a> <a href=\"/a\">about</a> "
        "<a href=\"/c\">contact' || CAST(doc_id AS VARCHAR) || "
        "'</a></div><p>' || text || '</p><p>Short.</p>"
        "<footer><a href=\"/t\">terms</a> <a href=\"/p\">privacy' "
        "|| CAST(doc_id AS VARCHAR) || '</a></footer></body></html>'")
    e = content_sql(page)
    return (f"SELECT doc_id, {e['n_blocks']} AS n_blocks, "
            f"{e['n_good']} AS n_good, "
            f"md5({e['content']}) AS content_hash, "
            f"{e['content_len']} AS content_len FROM documents")


QUERIES_TEXT["content_extract"] = (q_content_extract,
                                   _content_extract_sql())


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (n-gram overlap vs a held-out eval
    set — the GPT-3 13-gram filter's shape at n=3): docs with
    doc_id % 50 == 7 act as the benchmark; every corpus doc sharing
    >= 2 distinct shingles with it is flagged. The benchmark shingle
    set broadcasts; the only shuffle is the per-doc hit count."""
    from pyproj_spark.operators.dedup import decontaminate
    d0 = _docs(spark, sf_dir)
    # the benchmark side is ~2% of docs: shingling it does not need
    # the spread repartition (which would shuffle ALL docs just to
    # keep the 2%) — only the corpus side spreads
    return decontaminate(_spread(d0),
                         d0.filter(F.col("doc_id") % 50 == 7))


SQL_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, str_split({_NORM_SQL}, ' ') AS tk FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         {_H8.format(expr="tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3]")}
             AS shingle_hash
  FROM toks, UNNEST(range(greatest(len(tk) - 2, 0))) AS u(i)
),
bench AS (
  SELECT DISTINCT shingle_hash FROM sh WHERE doc_id % 50 = 7
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN bench USING (shingle_hash) GROUP BY 1
)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""

QUERIES_TEXT["decontaminate"] = (q_decontaminate, SQL_DECONTAMINATE)


def q_kmeans(spark, sf_dir):
    """Distributed k-means (Lloyd's, k=8, one centroid update =
    two assignment passes): each pass re-broadcasts the K centroids
    as literal arrays and the update is an explode + hash aggregate —
    the MLlib topology, with centroids rounded each pass so the
    oracle (the SAME passes unrolled in SQL CTEs) replays every
    assignment bit-for-bit."""
    from pyproj_spark.operators.kmeans import kmeans
    emb = _t(spark, sf_dir, "embeddings") \
        .select("vec_id",
                F.col("embedding").cast("array<double>").alias("v"))
    return kmeans(emb, k=8, iters=1)


def _kmeans_sql():
    dist = ("round(list_aggregate(list_transform(range(1, 65), "
            "i -> power(v[i] - c[i], 2)), 'sum'), 6)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cl, v AS c FROM e WHERE vec_id < 8),
d1 AS (
  SELECT e.vec_id, c0.cl, {dist} AS d
  FROM e CROSS JOIN c0
),
a1 AS (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) rk
    FROM d1) WHERE rk = 1
),
m1 AS (
  SELECT a1.cluster, g.i, round(avg(e.v[g.i]), 6) AS m
  FROM a1 JOIN e USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g
  GROUP BY a1.cluster, g.i
),
c1 AS (
  SELECT c0.cl,
         coalesce(mm.c, c0.c) AS c
  FROM c0 LEFT JOIN (
    SELECT cluster AS cl, list(m ORDER BY i) AS c FROM m1 GROUP BY 1
  ) mm USING (cl)
),
d2 AS (
  SELECT e.vec_id, c1.cl, {dist} AS d
  FROM e CROSS JOIN c1
),
a2 AS (
  SELECT vec_id, cl AS cluster, d FROM (
    SELECT vec_id, cl, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) rk
    FROM d2) WHERE rk = 1
)
SELECT vec_id, cluster, d AS dist2 FROM a2
"""


QUERIES_TEXT["kmeans"] = (q_kmeans, _kmeans_sql())


def q_tfidf(spark, sf_dir):
    """TF-IDF keyword extraction: smoothed idf over one corpus
    aggregation, per-doc tf, token-keyed idf attach, per-doc top-3 by
    rounded score with token tie-break — the classic search/labeling
    primitive on the same corpus-stats plan shape as lm_score."""
    from pyproj_spark.operators.lm import tfidf_keywords
    return tfidf_keywords(_docs(spark, sf_dir), top_k=3)


SQL_TFIDF = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df
          FROM toks GROUP BY 1),
idf AS (SELECT token, ln((n_docs + 1.0) / (df + 1)) + 1 AS idf
        FROM dfreq, n),
tf AS (SELECT doc_id, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
totals AS (SELECT doc_id, count(*) AS total FROM toks GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.token,
         round((cnt / CAST(total AS DOUBLE)) * idf, 6) AS score
  FROM tf JOIN totals USING (doc_id) JOIN idf USING (token)
)
SELECT doc_id, rank, token, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rank
  FROM scored) WHERE rank <= 3
"""

QUERIES_TEXT["tfidf"] = (q_tfidf, SQL_TFIDF)


#: BM25 query set — tiny literal table, broadcast by construction
_BM25_QUERIES = [(1, ["spark", "join", "window"]),
                 (2, ["hash", "table", "scan"]),
                 (3, ["fast", "vector"])]


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (operators/search.py): top-10 documents
    per query for three multi-term queries. Corpus stats (doc length,
    document frequency, avgdl) in partial-aggregated passes, idf only
    for query terms, per-term scores rounded to micros and summed as
    longs so the ranking is bitwise engine-independent."""
    from pyproj_spark.operators.search import bm25_search
    return bm25_search(_docs(spark, sf_dir), _BM25_QUERIES, top_k=10)


def _bm25_sql():
    from pyproj_spark.operators.search import bm25_sql
    return bm25_sql(_BM25_QUERIES, top_k=10)


QUERIES_TEXT["bm25"] = (q_bm25, _bm25_sql())


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009
    — public) of the two gated retrieval paths: BM25 lexical ranking
    and exact-cosine embedding ranking, fused per query as
    RRF(d) = sum over lists of 1/(60 + rank_d) — the standard hybrid-
    search combiner (rank-based, so the incomparable score scales of
    the two lists never matter). Query ids 1-3 are shared: BM25 terms
    from _BM25_QUERIES, embedding queries vec_id 1-3. The fused score
    adds exactly two doubles in a fixed order — no aggregation-order
    exposure — and ties break on doc_id."""
    from pyproj_spark.operators.search import bm25_search
    b = bm25_search(_docs(spark, sf_dir), _BM25_QUERIES, top_k=10)
    emb = _t(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 1000)
    qv = emb.filter(F.col("vec_id").isin(1, 2, 3)) \
        .withColumnRenamed("vec_id", "qid")
    c = similarity.cosine_topk(emb, qv, k=10)
    bb = b.select(F.col("query_id").cast("long").alias("qid"),
                  F.col("doc_id").cast("long").alias("doc_id"),
                  F.col("rank").alias("rb"))
    cc = c.select(F.col("qid").cast("long").alias("qid"),
                  F.col("vec_id").cast("long").alias("doc_id"),
                  F.col("rank").alias("rc"))
    f = bb.join(cc, ["qid", "doc_id"], "full_outer")
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rb")),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rc")),
                        F.lit(0.0)))
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (f.withColumn("rrf", rrf)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("qid", "rank", "doc_id", "rrf",
                    F.coalesce("rb", F.lit(0)).alias("rb"),
                    F.coalesce("rc", F.lit(0)).alias("rc")))


def _rrf_sql():
    from pyproj_spark.operators.search import bm25_sql
    bm = bm25_sql(_BM25_QUERIES, top_k=10).strip()
    marker = "SELECT query_id, rank, doc_id, score FROM ("
    head, tail = bm.split(marker, 1)
    assert head.startswith("WITH")
    return head.rstrip() + f""",
bmr AS (
  {marker}{tail}
),
e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE vec_id < 1000),
q2 AS (SELECT vec_id AS qid, v AS qv FROM e2
       WHERE vec_id IN (1, 2, 3)),
cr AS (
  SELECT qid, vec_id, rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY
             round(list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qv, qv))), 6) DESC,
             vec_id) AS rank
    FROM e2 CROSS JOIN q2 WHERE vec_id != qid
  ) WHERE rank <= 10
),
bb AS (SELECT CAST(query_id AS BIGINT) AS qid,
              CAST(doc_id AS BIGINT) AS doc_id, rank AS rb FROM bmr),
cc AS (SELECT CAST(qid AS BIGINT) AS qid,
              CAST(vec_id AS BIGINT) AS doc_id, rank AS rc FROM cr),
f AS (
  SELECT coalesce(bb.qid, cc.qid) AS qid,
         coalesce(bb.doc_id, cc.doc_id) AS doc_id, bb.rb, cc.rc,
         coalesce(1.0e0 / (60 + bb.rb), 0.0e0)
           + coalesce(1.0e0 / (60 + cc.rc), 0.0e0) AS rrf
  FROM bb FULL OUTER JOIN cc
    ON bb.qid = cc.qid AND bb.doc_id = cc.doc_id
)
SELECT qid, rank, doc_id, rrf,
       coalesce(rb, 0) AS rb, coalesce(rc, 0) AS rc
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY rrf DESC, doc_id) AS rank
  FROM f
) WHERE rank <= 10
"""


QUERIES_TEXT["rrf_fusion"] = (q_rrf_fusion, _rrf_sql())


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood entity-resolution join (Hernandez & Stolfo
    1995 — the THIRD blocking family next to LSH banding and exact
    keys): records sort by a normalized text key and only records
    within a window of w=5 positions become candidate pairs — O(n*w)
    candidates regardless of corpus skew. Scale shape: the sort is
    PARTITIONED by a 2-char key prefix (the standard blocked-SNM
    variant — a global-order window would serialize into one task,
    the pack_sequences lesson), so every window is key-partitioned.
    Candidates verify with exact set-Jaccard over the first 20
    distinct tokens; both sides replay identically."""
    from pyspark.sql import Window
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    key = F.substring(norm, 1, 24)
    toks = F.array_distinct(F.slice(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                 lambda t: t != F.lit("")), 1, 20))
    base = d.select("doc_id", key.alias("k"),
                    F.substring(key, 1, 2).alias("blk"),
                    toks.alias("tok"))
    w = Window.partitionBy("blk").orderBy("k", "doc_id")
    led = base
    for i in range(1, 5):  # windows evaluate BEFORE the generator
        led = (led.withColumn(f"db{i}", F.lead("doc_id", i).over(w))
               .withColumn(f"tb{i}", F.lead("tok", i).over(w)))
    cands = F.array(*[
        F.struct(F.col(f"db{i}").alias("doc_b"),
                 F.col(f"tb{i}").alias("tok_b"))
        for i in range(1, 5)])
    pairs = (led.withColumn("c", F.explode(cands))
             .filter(F.col("c.doc_b").isNotNull())
             .select(F.col("doc_id").alias("doc_a"),
                     F.col("c.doc_b").alias("doc_b"),
                     (F.size(F.array_intersect("tok", "c.tok_b"))
                      / F.size(F.array_union("tok", "c.tok_b")))
                     .alias("j")))
    return (pairs.filter(F.col("j") >= 0.5)
            .select("doc_a", "doc_b", F.round("j", 6).alias("jacc")))


SQL_SORTED_NEIGHBORHOOD = """
WITH base AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, 24) AS k,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, 2) AS blk,
         list_distinct(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           x -> x <> '')[1:20]) AS tok
  FROM documents
),
led AS (
  SELECT doc_id AS doc_a, tok,
         u.db AS doc_b, u.tb AS tok_b
  FROM (
    SELECT doc_id, tok,
           [struct_pack(db := lead(doc_id, 1) OVER w,
                        tb := lead(tok, 1) OVER w),
            struct_pack(db := lead(doc_id, 2) OVER w,
                        tb := lead(tok, 2) OVER w),
            struct_pack(db := lead(doc_id, 3) OVER w,
                        tb := lead(tok, 3) OVER w),
            struct_pack(db := lead(doc_id, 4) OVER w,
                        tb := lead(tok, 4) OVER w)] AS cands
    FROM base
    WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)
  ), unnest(cands) AS t(u)
  WHERE u.db IS NOT NULL
),
scored AS (
  SELECT doc_a, doc_b,
         len(list_intersect(tok, tok_b))
           / len(list_distinct(list_concat(tok, tok_b))) AS j
  FROM led
)
SELECT doc_a, doc_b, round(j, 6) AS jacc
FROM scored WHERE j >= 0.5
"""


QUERIES_TEXT["sorted_neighborhood"] = (q_sorted_neighborhood,
                                       SQL_SORTED_NEIGHBORHOOD)


def q_cm_heavy(spark, sf_dir):
    """Heavy-hitter tokens by Count-Min estimate (operators/sketch.py):
    the corpus collapses into 4x512 counters in one partial-aggregated
    pass, then the vocabulary probes the broadcast sketch with
    min-over-rows. Collisions can only inflate — the gate pins the
    exact over-count behavior, not just the happy path."""
    from pyproj_spark.operators.lm import _tokens
    from pyproj_spark.operators.sketch import cm_topk
    toks = _tokens(_spread(_docs(spark, sf_dir)).select("text"), "text") \
        .select("token")
    return cm_topk(toks, "token", k=10)


def _cm_sql():
    from pyproj_spark.operators.sketch import cm_sql
    return cm_sql(
        """(SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS token FROM documents)""",
        "token", k=10)


QUERIES_TEXT["cm_heavy"] = (q_cm_heavy, _cm_sql())


def q_containment(spark, sf_dir):
    """Asymmetric n-gram containment (operators/dedup.py::
    containment_pairs): |src ∩ dst| / |src| over the same capped
    posting lists as jaccard_3gram, emitting both directions — the
    partial-copy/quote detector behind "drop the contained doc, keep
    the superset" dedup policies."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.containment_pairs(docs, n=3, threshold=0.1)


SQL_CONTAINMENT = f"""
WITH toks AS (
  SELECT doc_id, str_split({_NORM_SQL}, ' ') AS tk
  FROM documents WHERE doc_id < 300
),
sh AS (
  SELECT DISTINCT doc_id,
         {_H8.format(expr="tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3]")}
             AS shingle_hash
  FROM toks, UNNEST(range(greatest(len(tk) - 2, 0))) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (
  SELECT shingle_hash FROM sh GROUP BY shingle_hash
  HAVING count(*) BETWEEN 2 AND 50
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle_hash)
  JOIN rare USING (shingle_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pb AS (
  SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
),
dirs AS (
  SELECT id_a AS src_id, id_b AS dst_id,
         n_common / CAST(n_a AS DOUBLE) AS c FROM pb
  UNION ALL
  SELECT id_b, id_a, n_common / CAST(n_b AS DOUBLE) FROM pb
)
SELECT src_id, dst_id, round(c, 4) AS containment
FROM dirs WHERE c >= 0.1
"""


QUERIES_TEXT["containment"] = (q_containment, SQL_CONTAINMENT)


def q_geoip(spark, sf_dir):
    """GeoIP-style range lookup (operators/iprange.py): a per-doc u32
    address (Knuth multiplicative hash of doc_id, identical expression
    in both engines) left-joins a 200-range disjoint lookup table via
    prefix-bucket decomposition — hash equi-joins only, where the
    naive plan is a BroadcastNestedLoop. The oracle runs DuckDB's own
    native non-equi BETWEEN join over the same ranges, so the gate
    crosses two different join algorithms."""
    from pyproj_spark.operators.iprange import ip_range_join
    d = _docs(spark, sf_dir).select(
        "doc_id",
        # (doc_id*K) mod 2^32 computed by 16-bit split so no
        # intermediate exceeds ~2^48: the raw product overflows int64
        # past doc_id ~3.5e9 (Spark wraps silently, DuckDB errors).
        # Identical value to the naive form wherever that form fits.
        (((F.col("doc_id") % 65536) * 2654435761
          + ((F.shiftright(F.col("doc_id"), 16) % 65536)
             * 2654435761 % 65536) * 65536) % 4294967296)
        .alias("ip32"))
    r = range(200)
    ranges = spark.createDataFrame(
        [(i * 8388608 + (i * 9973) % 100000,
          i * 8388608 + (i * 9973) % 100000 + 4000000 + (i * 31) % 1000000,
          f"C{i % 40}") for i in r],
        ["start", "end", "country"])
    return ip_range_join(d, ranges, ["doc_id"]) \
        .select("doc_id", "ip32",
                F.coalesce("country", F.lit("??")).alias("country"))


SQL_GEOIP = """
WITH probe AS (
  SELECT doc_id,
         ((doc_id % 65536) * 2654435761
          + (((doc_id >> 16) % 65536) * 2654435761 % 65536) * 65536)
         % 4294967296 AS ip32
  FROM documents
),
ranges AS (
  SELECT i * 8388608 + (i * 9973) % 100000 AS s,
         i * 8388608 + (i * 9973) % 100000 + 4000000 + (i * 31) % 1000000
             AS e,
         'C' || CAST(i % 40 AS VARCHAR) AS country
  FROM range(200) AS t(i)
)
SELECT p.doc_id, p.ip32, coalesce(r.country, '??') AS country
FROM probe p LEFT JOIN ranges r ON p.ip32 BETWEEN r.s AND r.e
"""


QUERIES_TEXT["geoip"] = (q_geoip, SQL_GEOIP)


def q_link_graph(spark, sf_dir):
    """Host link-graph build (operators/extract.py::extract_links —
    the Common-Crawl graph-construction stage): deterministic HTML
    with three <a> tags per page is synthesized with identical string
    expressions in both engines (the established synthetic-blob
    pattern), hrefs extract natively via regexp_extract_all group
    capture, and edges aggregate to (src_host, dst_host, n_links,
    first_anchor)."""
    from pyproj_spark.operators.extract import extract_links
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    def a(dst, txt):
        return F.concat(F.lit('<a href="http://h'), dst,
                        F.lit('.example.com/p/'), s(i), F.lit('">'),
                        txt, F.lit("</a>"))

    html = F.concat(
        F.lit("<html><body>"),
        a(s(i % 97), F.concat(F.lit("w"), s(i % 50))),
        F.lit("<p>filler</p>"),
        a(s((i * 13 + 5) % 97), F.concat(F.lit("w"), s(i % 31))),
        a(s((i * 29 + 11) % 97), F.lit("")),
        F.lit("</body></html>"))
    pages = d.select(
        F.concat(F.lit("h"), s(i % 59)).alias("src_host"),
        html.alias("html"))
    links = extract_links(pages)
    return (links.groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.min("anchor_text").alias("first_anchor")))


SQL_LINK_GRAPH = r"""
WITH pages AS (
  SELECT 'h' || CAST(doc_id % 59 AS VARCHAR) AS src_host,
         '<html><body>'
         || '<a href="http://h' || CAST(doc_id % 97 AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || 'w' || CAST(doc_id % 50 AS VARCHAR) || '</a>'
         || '<p>filler</p>'
         || '<a href="http://h' || CAST((doc_id * 13 + 5) % 97 AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || 'w' || CAST(doc_id % 31 AS VARCHAR) || '</a>'
         || '<a href="http://h' || CAST((doc_id * 29 + 11) % 97 AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || '</a>'
         || '</body></html>' AS html
  FROM documents
),
links AS (
  SELECT src_host,
         unnest(regexp_extract_all(html,
             '<a href="https?://([^/"]+)[^"]*">([^<]*)</a>', 1))
             AS dst_host,
         unnest(regexp_extract_all(html,
             '<a href="https?://([^/"]+)[^"]*">([^<]*)</a>', 2))
             AS anchor_text
  FROM pages
)
SELECT src_host, dst_host, count(*) AS n_links,
       min(anchor_text) AS first_anchor
FROM links GROUP BY 1, 2
"""


QUERIES_TEXT["link_graph"] = (q_link_graph, SQL_LINK_GRAPH)


def q_domain_buckets(spark, sf_dir):
    """CCNet-style domain quality bucketing: per-domain mean LM score
    (exact integer-micros mean so distributed sum order can't leak),
    domains ranked into head/middle/tail terciles with NTILE, buckets
    joined back to every document — the standard corpus-curation
    policy ("keep head, sample middle, drop tail") as two partial-agg
    passes + one broadcast join."""
    from pyspark.sql import Window
    from pyproj_spark.operators.lm import (score_documents,
                                           train_unigram_lm)
    docs = _docs(spark, sf_dir)
    lm = train_unigram_lm(docs, vocab_size=100)
    scores = score_documents(docs, lm).withColumn(
        "domain", F.concat(F.lit("d"),
                           (F.col("doc_id") % 23).cast("string")))
    dom = (scores.groupBy("domain")
           .agg((F.sum(F.round(F.col("mean_logp") * 1e5).cast("long"))
                 / F.count(F.lit(1))).alias("dm"),
                F.count(F.lit(1)).alias("n_docs")))
    w = Window.orderBy(F.col("dm").desc(), F.col("domain"))
    dom = dom.withColumn("bucket", F.ntile(3).over(w))
    return (scores.join(F.broadcast(dom), "domain")
            .select("doc_id", "domain", "bucket", "n_docs"))


SQL_DOMAIN_BUCKETS = f"""
WITH base AS ({{lm}}),
scores AS (
  SELECT doc_id, mean_logp,
         'd' || CAST(doc_id % 23 AS VARCHAR) AS domain
  FROM base
),
dom AS (
  SELECT domain,
         sum(CAST(round(mean_logp * 1e5) AS BIGINT))
             / CAST(count(*) AS DOUBLE) AS dm,
         count(*) AS n_docs
  FROM scores GROUP BY 1
),
bucketed AS (
  SELECT domain, n_docs,
         ntile(3) OVER (ORDER BY dm DESC, domain) AS bucket
  FROM dom
)
SELECT s.doc_id, s.domain, b.bucket, b.n_docs
FROM scores s JOIN bucketed b ON b.domain = s.domain
"""


def q_crawl_schedule(spark, sf_dir):
    """Crawl-frontier politeness scheduling: per-host FIFO by
    (priority, url id) with a per-host crawl delay (cf. the
    Crawl-delay directive the robots operator parses) — fetch slot =
    rank * delay seconds — and sticky worker assignment host % W so
    one worker owns each host's rate limit. One window shuffle on
    host; the worker column is how the schedule stays politeness-safe
    under 1000-executor fan-out."""
    from pyspark.sql import Window
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    fr = d.select(
        "doc_id",
        (i % 59).alias("hn"),
        (i % 5).alias("priority"))
    w = Window.partitionBy("hn").orderBy("priority", "doc_id")
    return (fr.withColumn("rank", F.row_number().over(w))
            .select("doc_id",
                    F.concat(F.lit("h"), F.col("hn").cast("string"))
                    .alias("host"),
                    "priority",
                    (F.col("hn") % 8).alias("worker"),
                    ((F.col("rank") - 1)
                     * (2 + F.col("hn") % 4)).alias("slot_s")))


SQL_CRAWL_SCHEDULE = """
WITH fr AS (
  SELECT doc_id, doc_id % 59 AS hn, doc_id % 5 AS priority
  FROM documents
),
ranked AS (
  SELECT doc_id, hn, priority,
         row_number() OVER (PARTITION BY hn
                            ORDER BY priority, doc_id) AS rank
  FROM fr
)
SELECT doc_id, 'h' || CAST(hn AS VARCHAR) AS host, priority,
       hn % 8 AS worker,
       (rank - 1) * (2 + hn % 4) AS slot_s
FROM ranked
"""


QUERIES_TEXT["domain_buckets"] = (
    q_domain_buckets,
    SQL_DOMAIN_BUCKETS.format(lm=SQL_LM_SCORE))
QUERIES_TEXT["crawl_schedule"] = (q_crawl_schedule, SQL_CRAWL_SCHEDULE)


def q_entropy(spark, sf_dir):
    """Token-entropy quality signal: Shannon entropy of each doc's
    token distribution plus type-token ratio — the standard cheap
    detector for degenerate/repetitive text (entropy near 0) and
    random garbage (TTR near 1 with high entropy). Per-term entropy
    contributions round to nano units and sum as exact longs, so the
    per-doc aggregation order cannot leak into the gate."""
    from pyproj_spark.operators.lm import _tokens
    toks = _tokens(_docs(spark, sf_dir).select("doc_id", "text"),
                   "text").select("doc_id", "token")
    tf = (toks.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).alias("c")))
    tot = (tf.groupBy("doc_id")
           .agg(F.sum("c").alias("n"),
                F.count(F.lit(1)).alias("n_types")))
    p = F.col("c") / F.col("n")
    term = F.round(-p * F.log(p) * 1e9).cast("long")
    ent = (tf.join(tot, "doc_id")
           .groupBy("doc_id")
           .agg(F.sum(term).alias("em")))
    return (ent.join(tot, "doc_id")
            .select("doc_id", "n", "n_types",
                    F.round(F.col("em") / 1e9, 6).alias("entropy"),
                    F.round(F.col("n_types") / F.col("n"), 6)
                    .alias("ttr")))


SQL_ENTROPY = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) AS n, count(*) AS n_types
        FROM tf GROUP BY 1),
ent AS (
  SELECT tf.doc_id,
         sum(CAST(round(-(c / CAST(n AS DOUBLE))
                        * ln(c / CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
             AS em
  FROM tf JOIN tot USING (doc_id) GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n, n_types,
       round(em / 1e9, 6) AS entropy,
       round(n_types / CAST(n AS DOUBLE), 6) AS ttr
FROM ent JOIN tot USING (doc_id)
"""


QUERIES_TEXT["entropy"] = (q_entropy, SQL_ENTROPY)


def q_crawl_delta(spark, sf_dir):
    """Crawl snapshot delta report: two deterministic snapshot views
    of the corpus (membership by modular rule, content revised for
    every third page) full-outer-join into per-page added / removed /
    changed / unchanged status — the incremental-crawl planning query
    that decides what re-fetches and what re-processes."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    old = (d.filter(i % 5 != 0)
           .select("doc_id", F.md5("text").alias("fp_old")))
    new = (d.filter(i % 7 != 0)
           .select("doc_id", F.md5(
               F.when(i % 3 == 0, F.concat(F.col("text"),
                                           F.lit("!rev2")))
               .otherwise(F.col("text"))).alias("fp_new")))
    j = old.join(new, "doc_id", "full_outer")
    status = (F.when(F.col("fp_old").isNull(), F.lit("added"))
              .when(F.col("fp_new").isNull(), F.lit("removed"))
              .when(F.col("fp_old") != F.col("fp_new"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select("doc_id", status.alias("status"))


SQL_CRAWL_DELTA = """
WITH old AS (
  SELECT doc_id, md5(text) AS fp_old FROM documents
  WHERE doc_id % 5 <> 0
),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 3 = 0 THEN text || '!rev2'
             ELSE text END) AS fp_new
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN fp_old IS NULL THEN 'added'
            WHEN fp_new IS NULL THEN 'removed'
            WHEN fp_old <> fp_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


QUERIES_TEXT["crawl_delta"] = (q_crawl_delta, SQL_CRAWL_DELTA)


def q_weighted_sample(spark, sf_dir):
    """Deterministic A-Res weighted sampling (operators/sampling.py):
    top-20 docs per language, selection probability proportional to
    n_chars — md5-derived keys instead of RNG draws, so the kept-row
    set is reproducible and the oracle replays it exactly."""
    from pyproj_spark.operators.sampling import weighted_sample
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return weighted_sample(d, k=20, weight_col="n_chars",
                           stratum_col="lang")


def _weighted_sample_sql():
    from pyproj_spark.operators.sampling import weighted_sample_sql
    return weighted_sample_sql(
        "(SELECT doc_id, lang, n_chars FROM documents)",
        k=20, weight_expr="n_chars", stratum_expr="lang")


QUERIES_TEXT["weighted_sample"] = (q_weighted_sample,
                                   _weighted_sample_sql())


def q_quantile_sketch(spark, sf_dir):
    """Mergeable bottom-k quantile sketch (operators/sketch.py): p50/
    p90/p99 of the events value column from a 1024-row smallest-hash
    sample — Spark's distributed TakeOrdered IS the sketch merge, and
    the integer index rule makes the estimate engine-identical."""
    from pyproj_spark.operators.sketch import bottomk_quantiles
    ev = _t(spark, sf_dir, "events")
    return bottomk_quantiles(ev, "value", "event_id")


def _quantile_sketch_sql():
    from pyproj_spark.operators.sketch import bottomk_sql
    return bottomk_sql("events", "value", "event_id")


QUERIES_TEXT["quantile_sketch"] = (q_quantile_sketch,
                                   _quantile_sketch_sql())


#: stride-mix target weights per source (src<k> -> 1 + k % 5)
_MIX_WEIGHTS = {f"src{k}": 1.0 + k % 5 for k in range(20)}


def q_data_mix(spark, sf_dir):
    """Deterministic training-data mixing (operators/packing.py::
    stride_mix): every source emits documents at positions
    (rank - 0.5)/weight, so sorting by pos gives a stream whose local
    source mixture matches the target weights everywhere — the
    data-mixing stage between curation and sequence packing."""
    from pyproj_spark.operators.packing import stride_mix
    return stride_mix(_docs(spark, sf_dir), _MIX_WEIGHTS)


def _data_mix_sql():
    cases = " ".join(
        f"WHEN source = '{k}' THEN {float(v)!r}"
        for k, v in sorted(_MIX_WEIGHTS.items()))
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id)
             AS r,
         CASE {cases} END AS w
  FROM documents
)
SELECT doc_id, source, round((r - 0.5) / w, 6) AS pos
FROM ranked WHERE w IS NOT NULL
"""


QUERIES_TEXT["data_mix"] = (q_data_mix, _data_mix_sql())


def q_pmi_pairs(spark, sf_dir):
    """Word-association mining: pointwise mutual information over
    within-document co-occurrence, PMI = ln(cooc·N / (df1·df2)),
    pairs with cooc >= 25. The pair space is bounded the scale-safe
    way: only the top-30 corpus vocabulary participates (TakeOrdered,
    broadcast), and per-doc pair expansion is an array HOF over that
    <=30-token set — never a corpus-wide token self-join."""
    from pyproj_spark.operators.lm import _tokens
    docs = _docs(spark, sf_dir)
    toks = _tokens(docs.select("doc_id", "text"), "text") \
        .select("doc_id", "token")
    # ONE action instead of three: n_docs rides as a 1-row broadcast
    # aggregate (was a separate .count() job), the top-30 vocabulary
    # is a broadcast TakeOrdered semi-join (was a collect + isin
    # literal — one more driver job), and the per-doc/per-token
    # dedups fold into collect_set aggregations (each saves the
    # standalone distinct exchange + one extra evaluation of the
    # token pipeline). Same token sets, same counts, same pmi bits.
    n1 = docs.agg(F.count(F.lit(1)).cast("double").alias("_nd"))
    vocab_df = (toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.col("c").desc(), "token").limit(30)
                .select("token"))
    dt = toks.join(F.broadcast(vocab_df), "token", "left_semi")
    dfreq = dt.groupBy("token").agg(
        F.size(F.collect_set("doc_id")).cast("long").alias("df"))
    per_doc = (dt.groupBy("doc_id")
               .agg(F.array_sort(F.collect_set("token"))
                    .alias("ts")))
    ts = F.col("ts")
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), F.size(ts) - 2),
        lambda i: F.transform(
            F.sequence(i + 1, F.size(ts) - 1),
            lambda j: F.struct(
                F.element_at(ts, (i + 1).cast("int")).alias("w1"),
                F.element_at(ts, (j + 1).cast("int")).alias("w2")))))
    cooc = (per_doc.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.w1").alias("w1"),
                     F.col("p.w2").alias("w2"))
            .agg(F.count(F.lit(1)).alias("cooc"))
            .filter(F.col("cooc") >= 25))
    d1 = dfreq.select(F.col("token").alias("w1"),
                      F.col("df").alias("df1"))
    d2 = dfreq.select(F.col("token").alias("w2"),
                      F.col("df").alias("df2"))
    return (cooc.join(F.broadcast(d1), "w1").join(F.broadcast(d2), "w2")
            .crossJoin(F.broadcast(n1))
            .select("w1", "w2", "cooc",
                    F.round(F.log(F.col("cooc") * F.col("_nd")
                                  / (F.col("df1") * F.col("df2"))), 6)
                    .alias("pmi")))


SQL_PMI = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 30
),
dt AS (
  SELECT DISTINCT doc_id, token FROM toks
  WHERE token IN (SELECT token FROM vocab)
),
dfreq AS (SELECT token, count(*) AS df FROM dt GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
cooc AS (
  SELECT a.token AS w1, b.token AS w2, count(*) AS cooc
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2 HAVING count(*) >= 25
)
SELECT w1, w2, cooc,
       round(ln(cooc * CAST(n_docs AS DOUBLE) / (d1.df * d2.df)), 6)
           AS pmi
FROM cooc JOIN dfreq d1 ON d1.token = w1
          JOIN dfreq d2 ON d2.token = w2
CROSS JOIN n
"""


QUERIES_TEXT["pmi_pairs"] = (q_pmi_pairs, SQL_PMI)


def q_markov_events(spark, sf_dir):
    """Per-user event-sequence Markov transition matrix: next event
    type via lead() over (user, time) order, transition probability
    as an exact integer count ratio — the navigation-model /
    next-action analytic over clickstream-shaped data."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.withColumn("next_type",
                         F.lead("event_type").over(w))
           .filter(F.col("next_type").isNotNull()))
    cnt = (seq.groupBy("event_type", "next_type")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = (cnt.groupBy("event_type")
           .agg(F.sum("n").alias("tot")))
    return (cnt.join(tot, "event_type")
            .select("event_type", "next_type", "n",
                    F.round(F.col("n") / F.col("tot"), 6).alias("p")))


SQL_MARKOV = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS (
  SELECT event_type, next_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT event_type, sum(n) AS tot FROM cnt GROUP BY 1)
SELECT cnt.event_type, next_type, n,
       round(n / CAST(tot AS DOUBLE), 6) AS p
FROM cnt JOIN tot ON tot.event_type = cnt.event_type
"""


QUERIES_TEXT["markov_events"] = (q_markov_events, SQL_MARKOV)


def q_html_meta(spark, sf_dir):
    """HTML metadata extraction (the WAT-record build of a crawl
    pipeline): title, meta description, and canonical link pulled by
    native regexp group captures from deterministic page HTML
    (identical string expressions in both engines; every third page
    omits the canonical tag so the NULL path is gated too)."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    canonical = F.when(
        i % 3 != 0,
        F.concat(F.lit('<link rel="canonical" href="http://c'),
                 s(i % 41), F.lit(".example.com/p/"), s(i),
                 F.lit('">'))).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Page "), s(i), F.lit(" - site "),
        s(i % 59), F.lit("</title>"),
        F.lit('<meta name="description" content="doc '), s(i),
        F.lit(' topic '), s(i % 23), F.lit('">'), canonical,
        F.lit("</head><body>x</body></html>"))
    pages = d.select("doc_id", html.alias("html"))
    title_re = r"<title>([^<]*)</title>"
    desc_re = r'<meta name="description" content="([^"]*)">'
    canon_re = r'<link rel="canonical" href="([^"]*)">'
    ext = pages.select(
        "doc_id",
        F.regexp_extract("html", title_re, 1).alias("title"),
        F.regexp_extract("html", desc_re, 1).alias("description"),
        F.nullif(F.regexp_extract("html", canon_re, 1), F.lit(""))
        .alias("canonical"))
    return ext


SQL_HTML_META = r"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><title>Page ' || CAST(doc_id AS VARCHAR)
         || ' - site ' || CAST(doc_id % 59 AS VARCHAR) || '</title>'
         || '<meta name="description" content="doc '
         || CAST(doc_id AS VARCHAR) || ' topic '
         || CAST(doc_id % 23 AS VARCHAR) || '">'
         || CASE WHEN doc_id % 3 <> 0
                 THEN '<link rel="canonical" href="http://c'
                      || CAST(doc_id % 41 AS VARCHAR)
                      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                      || '">'
                 ELSE '' END
         || '</head><body>x</body></html>' AS html
  FROM documents
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       regexp_extract(html,
           '<meta name="description" content="([^"]*)">', 1)
           AS description,
       nullif(regexp_extract(html,
           '<link rel="canonical" href="([^"]*)">', 1), '')
           AS canonical
FROM pages
"""


QUERIES_TEXT["html_meta"] = (q_html_meta, SQL_HTML_META)


def q_site_template(spark, sf_dir):
    """Per-site template removal (operators/content.py::
    site_template_clean): nav and footer lines appear in 100% of each
    host's pages (stripped), a promo line in 40% (kept — below the
    0.5 threshold), so the gate exercises both sides of the
    host-scoped frequency decision; the cleaned text is hash-checked
    byte-for-byte."""
    from pyproj_spark.operators.content import site_template_clean
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    h = (i % 31).cast("string")
    text = F.concat(
        F.substring("text", 1, 80), F.lit("\n"),
        F.lit("nav menu of host "), h, F.lit("\n"),
        F.when(i % 5 < 2,
               F.concat(F.lit("promo of host "), h, F.lit("\n")))
        .otherwise(F.lit("")),
        F.lit("footer of host "), h, F.lit("\n"),
        F.substring("text", 81, 1000000))
    built = d.select("doc_id",
                     F.concat(F.lit("h"), h).alias("host"),
                     text.alias("text"))
    return site_template_clean(built)


SQL_SITE_TEMPLATE = """
WITH built AS (
  SELECT doc_id, 'h' || CAST(doc_id % 31 AS VARCHAR) AS host,
         substr(text, 1, 80) || chr(10)
         || 'nav menu of host ' || CAST(doc_id % 31 AS VARCHAR)
         || chr(10)
         || CASE WHEN doc_id % 5 < 2
                 THEN 'promo of host ' || CAST(doc_id % 31 AS VARCHAR)
                      || chr(10)
                 ELSE '' END
         || 'footer of host ' || CAST(doc_id % 31 AS VARCHAR)
         || chr(10) || substr(text, 81) AS text
  FROM documents
),
paras AS (
  SELECT doc_id, host,
         list_filter(str_split(text, chr(10)),
                     p -> trim(p) <> '') AS ps
  FROM built
),
lh AS (
  SELECT DISTINCT doc_id, host, md5(trim(p)) AS lhash
  FROM paras, UNNEST(ps) AS u(p)
),
per_line AS (
  SELECT host, lhash, count(DISTINCT doc_id) AS ndocs
  FROM lh GROUP BY 1, 2
),
host_docs AS (
  SELECT host, count(DISTINCT doc_id) AS total FROM built GROUP BY 1
),
template AS (
  SELECT p.host, p.lhash
  FROM per_line p JOIN host_docs h ON h.host = p.host
  WHERE p.ndocs > 0.5 * h.total
),
tl AS (SELECT host, list(lhash) AS ths FROM template GROUP BY 1),
cleaned AS (
  SELECT paras.doc_id, paras.host, ps,
         list_filter(ps, p -> NOT list_contains(
             coalesce(tl.ths, []), md5(trim(p)))) AS cl
  FROM paras LEFT JOIN tl ON tl.host = paras.host
)
SELECT doc_id, host, len(ps) AS n_lines,
       len(ps) - len(cl) AS n_removed,
       md5(coalesce(array_to_string(cl, chr(10)), '')) AS clean_hash
FROM cleaned
"""


QUERIES_TEXT["site_template"] = (q_site_template, SQL_SITE_TEMPLATE)


#: duplicated-span shingle width (tokens): an exact cross-document
#: overlap of >= this many tokens is what the detector certifies
_SPAN_N = 20


def q_dup_spans(spark, sf_dir):
    """Exact-substring duplication spans (the practical distributed
    form of Lee et al. 2022 suffix-array dedup): every _SPAN_N-token
    window hashes to a shingle; a shingle seen in >= 2 documents
    certifies an exact >= _SPAN_N-token cross-document overlap; per
    document, duplicated window START POSITIONS merge into maximal
    spans by interval union (gaps-and-islands with gap > _SPAN_N) and
    the duplicated-token coverage is (last - first + _SPAN_N) per
    span. Docs are given deterministic shared runs (a corpus-wide
    25-token span on even ids, a second on ids % 3 == 0) so spans,
    overlaps, and the non-duplicated tail are all exercised.

    Plan: one staged-projection shingle pass (the documented HOF
    inlining trap is avoided by hashing over a plain column
    attribute), one groupBy(shingle) for document frequency, a
    broadcast-joined duplicate set, one per-doc window for the
    interval merge."""
    from pyspark.sql import Window
    d = _spread(_docs(spark, sf_dir))
    i = F.col("doc_id")
    shared1 = " ".join(f"alpha{j}" for j in range(25))
    shared2 = " ".join(f"beta{j}" for j in range(25))
    text = F.concat(
        F.substring("text", 1, 60), F.lit(" "),
        F.when(i % 2 == 0, F.lit(shared1 + " ")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit(shared2 + " ")).otherwise(F.lit("")),
        F.substring("text", 61, 200))
    toks = F.filter(F.split(F.trim(text), r"\s+"),
                    lambda t: t != F.lit(""))
    staged = d.select("doc_id", toks.alias("tk")) \
        .filter(F.size("tk") >= _SPAN_N)
    sh = staged.select(
        "doc_id", F.size("tk").alias("n_tokens"),
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("tk") - (_SPAN_N - 1)),
            lambda p: F.md5(F.concat_ws(
                " ", F.slice(F.col("tk"), p, _SPAN_N)))))
        .alias("pos", "h"))
    dupset = (sh.select("h", "doc_id").distinct()
              .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
              .filter(F.col("nd") >= 2).select("h"))
    dpos = sh.join(dupset, "h").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (dpos.withColumn(
        "new_span",
        F.when(F.col("pos") - F.lag("pos").over(w) <= _SPAN_N, 0)
        .otherwise(1))
        .withColumn("span_id", F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "n_tokens", "span_id")
        .agg((F.max("pos") - F.min("pos") + _SPAN_N).alias("cov")))
    return (spans.groupBy("doc_id", "n_tokens")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum("cov").alias("dup_tokens"))
            .select("doc_id", "n_tokens", "n_spans", "dup_tokens",
                    (F.col("dup_tokens") / F.col("n_tokens"))
                    .alias("dup_frac")))


def _dup_spans_sql():
    shared1 = " ".join(f"alpha{j}" for j in range(25))
    shared2 = " ".join(f"beta{j}" for j in range(25))
    n = _SPAN_N
    return f"""
WITH built AS (
  SELECT doc_id,
         substr(text, 1, 60) || ' '
         || CASE WHEN doc_id % 2 = 0 THEN '{shared1} ' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '{shared2} ' ELSE '' END
         || substr(text, 61, 200) AS text
  FROM documents
),
tks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM built
),
staged AS (SELECT doc_id, tk, len(tk) AS n_tokens FROM tks
           WHERE len(tk) >= {n}),
sh AS (
  SELECT doc_id, n_tokens, p AS pos,
         md5(array_to_string(tk[p:p + {n} - 1], ' ')) AS h
  FROM staged, UNNEST(range(1, len(tk) - {n} + 2)) AS u(p)
),
dupset AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM sh)
  GROUP BY h HAVING count(*) >= 2
),
dpos AS (
  SELECT doc_id, n_tokens, pos FROM sh JOIN dupset USING (h)
),
marked AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos - lag(pos) OVER
                  (PARTITION BY doc_id ORDER BY pos) <= {n}
              THEN 0 ELSE 1 END AS new_span
  FROM dpos
),
ids AS (
  SELECT doc_id, n_tokens, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
),
spans AS (
  SELECT doc_id, n_tokens, span_id,
         max(pos) - min(pos) + {n} AS cov
  FROM ids GROUP BY 1, 2, 3
)
SELECT doc_id, n_tokens, count(*) AS n_spans,
       CAST(sum(cov) AS BIGINT) AS dup_tokens,
       sum(cov) / CAST(n_tokens AS DOUBLE) AS dup_frac
FROM spans GROUP BY doc_id, n_tokens
"""


QUERIES_TEXT["dup_spans"] = (q_dup_spans, _dup_spans_sql())


#: occurrence cap per shingle for exact-match pairing: a shingle seen
#: more than this many times is boilerplate (every pair of its hosts
#: would be expanded — O(df^2)); dropping it splits or hides matches
#: made ONLY of boilerplate, the standard posting-list tradeoff
_EXACT_DF_CAP = 8


def q_dup_spans_exact(spark, sf_dir):
    """Variable-length EXACT-substring duplication (the seed-and-extend
    upgrade of ``dup_spans``'s fixed-20-gram approximation, completing
    the Lee et al. 2022 dedup family without a distributed suffix
    array).

    Key identity: a maximal exact cross-document match of length
    L >= n contains exactly L-n+1 matching n-token windows at
    CONSECUTIVE positions on the same diagonal (posA - posB). So after
    pairing the occurrences of each duplicated shingle, maximal runs
    of anchors per (docA, docB, diagonal) with step 1 in posA are
    precisely the maximal matches, and their TRUE length is
    (max(posA) - min(posA)) + n — no per-row extension UDF, no
    re-reading of the text.

    Scale plan (100 TB): one groupBy(shingle) shuffle; pair expansion
    is a JVM-side HOF over the per-shingle occurrence list, bounded by
    _EXACT_DF_CAP^2 = 64 pairs per shingle (hot boilerplate shingles
    with df > cap are dropped — same df-cap discipline as the
    jaccard/containment posting lists); the runs pass is one window
    partitioned by (docA, docB, diagonal). No self-join of the corpus,
    no broadcast of corpus-sized sets.

    Fixture: each doc gets unique-token padding around two planted
    runs — runX of 20 + (g % 15) tokens shared by the doc pair
    g = doc_id div 2 (df=2, variable length), runY of 45 tokens shared
    by the 5-doc group h = doc_id div 5 (df=5, all 10 pairs). Reported
    lengths are EXACT (20..34 and 45), strictly above the 20-gram
    floor — the fidelity gap the fixed-n detector leaves.
    """
    from pyspark.sql import Window
    d = _spread(_docs(spark, sf_dir))
    n = _SPAN_N
    g = F.expr("doc_id div 2")
    h = F.expr("doc_id div 5")
    len_x = (F.lit(20) + g % 15).cast("int")
    pre = F.transform(F.sequence(F.lit(0), F.lit(4)),
                      lambda j: F.concat(F.lit("u"), F.col("doc_id"),
                                         F.lit("p"), j))
    run_x = F.transform(F.sequence(F.lit(0), len_x - 1),
                        lambda j: F.concat(F.lit("g"), g, F.lit("x"), j))
    mid = F.array(F.concat(F.lit("u"), F.col("doc_id"), F.lit("m")))
    run_y = F.transform(F.sequence(F.lit(0), F.lit(44)),
                        lambda j: F.concat(F.lit("q"), h, F.lit("y"), j))
    tail = F.transform(F.sequence(F.lit(0), F.lit(2)),
                       lambda j: F.concat(F.lit("u"), F.col("doc_id"),
                                          F.lit("t"), j))
    toks = F.concat(pre, run_x, mid, run_y, tail)
    staged = d.select("doc_id", toks.alias("tk"))
    sh = staged.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("tk") - (n - 1)),
            lambda p: F.md5(F.concat_ws(
                " ", F.slice(F.col("tk"), p, n)))))
        .alias("pos0", "h")).select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    occ = (sh.groupBy("h")
           .agg(F.sort_array(F.collect_list(
               F.struct("doc_id", "pos"))).alias("os"))
           .filter((F.size("os") >= 2) & (F.size("os") <= _EXACT_DF_CAP)))
    # ordered pairs (i < j) over the sorted occurrence list — identical
    # to the SQL self-join's (doc_id, pos)-lexicographic canonical order
    pair = occ.select(F.explode(F.flatten(F.transform(
        F.col("os"),
        lambda a, i: F.transform(
            F.slice(F.col("os"), i + 2,
                    F.greatest(F.size("os") - i - 1, F.lit(0))),
            lambda b: F.struct(
                a["doc_id"].alias("da"), a["pos"].alias("pa"),
                b["doc_id"].alias("db"), b["pos"].alias("pb")))))
    ).alias("p")).select("p.da", "p.pa", "p.db", "p.pb")
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (pair.select("da", "pa", "db", "pb", diag)
            .withColumn("nr", F.when(
                F.col("pa") - F.lag("pa").over(w) == 1, 0).otherwise(1))
            .withColumn("rid", F.sum("nr").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("da", "db", "diag", "rid")
            .agg((F.max("pa") - F.min("pa") + n).alias("mlen")))
    return (runs.groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.max("mlen").alias("max_len"),
                 F.sum("mlen").alias("tot_len")))


def _dup_spans_exact_sql():
    n = _SPAN_N
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(range(0, 5), j -> 'u'||doc_id||'p'||j)
         || list_transform(range(0, 20 + (doc_id // 2) % 15),
                           j -> 'g'||(doc_id // 2)||'x'||j)
         || ['u'||doc_id||'m']
         || list_transform(range(0, 45), j -> 'q'||(doc_id // 5)||'y'||j)
         || list_transform(range(0, 3), j -> 'u'||doc_id||'t'||j) AS tk
  FROM documents
),
sh AS (
  SELECT doc_id, p AS pos,
         md5(array_to_string(tk[p:p + {n} - 1], ' ')) AS h
  FROM toks, UNNEST(range(1, len(tk) - {n} + 2)) AS u(p)
),
capped AS (
  SELECT doc_id, pos, h FROM sh
  QUALIFY count(*) OVER (PARTITION BY h) BETWEEN 2 AND {_EXACT_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb
  FROM capped a JOIN capped b ON a.h = b.h
   AND (a.doc_id < b.doc_id
        OR (a.doc_id = b.doc_id AND a.pos < b.pos))
),
marked AS (
  SELECT da, db, pa - pb AS diag, pa,
         CASE WHEN pa - lag(pa) OVER
                  (PARTITION BY da, db, pa - pb ORDER BY pa) = 1
              THEN 0 ELSE 1 END AS nr
  FROM pairs
),
ids AS (
  SELECT da, db, diag, pa,
         sum(nr) OVER (PARTITION BY da, db, diag ORDER BY pa
                       ROWS UNBOUNDED PRECEDING) AS rid
  FROM marked
),
runs AS (
  SELECT da, db, diag, rid, max(pa) - min(pa) + {n} AS mlen
  FROM ids GROUP BY 1, 2, 3, 4
)
SELECT da, db, count(*) AS n_matches,
       CAST(max(mlen) AS BIGINT) AS max_len,
       CAST(sum(mlen) AS BIGINT) AS tot_len
FROM runs GROUP BY da, db
"""


QUERIES_TEXT["dup_spans_exact"] = (q_dup_spans_exact,
                                   _dup_spans_exact_sql())


def q_lang_confusion(spark, sf_dir):
    """Detector evaluation: the lang-id heuristic's CONFUSION MATRIX
    against the labeled lang column — (label, prediction, count) plus
    per-label recall as an exact integer ratio. The quality-eval query
    every classifier stage in a curation pipeline ships with."""
    from pyspark.sql import Window
    pred = textstats.lang_id(_docs(spark, sf_dir))
    cm = (pred.groupBy(F.col("lang").alias("label"), "lang_pred")
          .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("label")
    return cm.select(
        "label", "lang_pred", "n",
        (F.col("n") / F.sum("n").over(w)).alias("frac"))


SQL_LANG_CONFUSION = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_marker_sql([' the ', ' and ', ' of '])} AS s_en,
         {_marker_sql([' der ', ' und ', ' die '])} AS s_de,
         {_marker_sql([' le ', ' la ', ' et '])} AS s_fr,
         {_marker_sql([' el ', ' de ', ' que '])} AS s_es
  FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p
        FROM documents)
),
pred AS (
  SELECT lang AS label,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM s
),
cm AS (SELECT label, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2)
SELECT label, lang_pred, n,
       n / CAST(sum(n) OVER (PARTITION BY label) AS DOUBLE) AS frac
FROM cm
"""


QUERIES_TEXT["lang_confusion"] = (q_lang_confusion, SQL_LANG_CONFUSION)


def q_canonical_docs(spark, sf_dir):
    """Canonical-document selection — the final dedup policy: within
    each near-dup cluster (minhash LSH -> connected components) keep
    the BEST document (longest normalized text, doc_id tie-break) via
    one max_by(struct) aggregate, not the arbitrary min-id
    representative. Returns (rep, canonical_id, cluster_size,
    best_len)."""
    from pyproj_spark.operators.cc import connected_components
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                    star_only=True)
    comp = connected_components(pairs)
    qual = docs.select(F.col("doc_id").alias("id"),
                       F.length(F.trim("text")).alias("tlen"))
    return (comp.join(qual, "id")
            .groupBy("rep")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.max_by(
                     F.col("id"),
                     F.struct(F.col("tlen"), (-F.col("id"))
                              .alias("nid"))).alias("canonical_id"),
                 F.max("tlen").alias("best_len"))
            .select("rep", "canonical_id", "cluster_size", "best_len"))


SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE {{pairs_cte}},
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id
),
comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
qual AS (SELECT doc_id AS id, length(trim(text)) AS tlen
         FROM documents),
j AS (SELECT comp.rep, comp.id, qual.tlen
      FROM comp JOIN qual ON qual.id = comp.id),
ranked AS (
  SELECT rep, id, tlen,
         row_number() OVER (PARTITION BY rep
                            ORDER BY tlen DESC, id) AS rn,
         count(*) OVER (PARTITION BY rep) AS cluster_size,
         max(tlen) OVER (PARTITION BY rep) AS best_len
  FROM j
)
SELECT rep, id AS canonical_id, cluster_size, best_len
FROM ranked WHERE rn = 1
"""


QUERIES_TEXT["canonical_docs"] = (
    q_canonical_docs,
    SQL_CANONICAL_DOCS.format(pairs_cte=_MINHASH_PAIRS_CTE))


def q_zipf_fit(spark, sf_dir):
    """Corpus-health diagnostic: OLS fit of the Zipf rank-frequency
    law over the top-100 tokens — ln(freq) vs ln(rank) slope (natural
    corpora sit near -1; generated/templated text drifts), with every
    OLS sum accumulated as exact nano-unit longs so the regression is
    aggregation-order-independent and the final slope/intercept are
    engine-identical doubles."""
    from pyspark.sql import Window
    from pyproj_spark.operators.lm import _tokens
    toks = _tokens(_docs(spark, sf_dir).select("text"), "text")
    top = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
           .orderBy(F.col("freq").desc(), "token").limit(100))
    w = Window.orderBy(F.col("freq").desc(), "token")
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"))

    def nano(c):
        return F.sum(F.round(c * 1e9).cast("long")).cast("double") / 1e9

    s = xy.agg(F.count(F.lit(1)).alias("n"),
               nano(F.col("x")).alias("sx"), nano(F.col("y")).alias("sy"),
               nano(F.col("x") * F.col("x")).alias("sxx"),
               nano(F.col("x") * F.col("y")).alias("sxy"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(
        F.col("n").alias("n_tokens_fit"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n"))
        .alias("intercept"))


SQL_ZIPF = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            t -> t <> '')) AS token
  FROM documents
),
top AS (
  SELECT token, count(*) AS freq FROM toks GROUP BY 1
  ORDER BY freq DESC, token LIMIT 100
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, token)
                 AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM top
),
s AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             AS sx,
         CAST(sum(CAST(round(y * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             AS sy,
         CAST(sum(CAST(round(x * x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             AS sxx,
         CAST(sum(CAST(round(x * y * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             AS sxy
  FROM xy
)
SELECT n AS n_tokens_fit,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
           AS intercept
FROM s
"""


QUERIES_TEXT["zipf_fit"] = (q_zipf_fit, SQL_ZIPF)


def q_bloom_filter(spark, sf_dir):
    """Bloom-filter membership probe (operators/sketch.py): the bit
    array is a distinct-position table from the reference fingerprints
    (every ~31st doc), "all k bits set" is a broadcast position join —
    bitmap semantics including false positives, without shipping the
    reference set to every row. Output keeps the exact membership next
    to the bloom verdict so the gate covers the FP behavior too."""
    from pyproj_spark.operators.sketch import bloom_probe
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text")).alias("fp"))
    ref = docs.filter(F.col("doc_id") % 31 == 0).select("fp")
    out = bloom_probe(ref, docs, "fp")
    exact = ref.distinct().withColumn("exact_hit", F.lit(True))
    return (out.join(exact, "fp", "left")
            .select("doc_id", "bloom_hit",
                    F.coalesce("exact_hit", F.lit(False))
                    .alias("exact_hit")))


def _bloom_sql():
    from pyproj_spark.operators.sketch import (bloom_sql_positions,
                                               BLOOM_K)
    pos = bloom_sql_positions("j", "v")
    return f"""
WITH docs_v AS (SELECT doc_id, md5(text) AS v FROM documents),
ref AS (SELECT v FROM docs_v WHERE doc_id % 31 = 0),
bits AS (
  SELECT DISTINCT {pos} AS pos
  FROM ref CROSS JOIN range({BLOOM_K}) AS t(j)
),
probe AS (
  SELECT v, j, {pos} AS pos
  FROM (SELECT DISTINCT v FROM docs_v) CROSS JOIN range({BLOOM_K}) AS t(j)
),
hits AS (
  SELECT v, count(*) AS nh
  FROM probe JOIN bits USING (pos) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(hits.nh = {BLOOM_K}, FALSE) AS bloom_hit,
       (d.v IN (SELECT v FROM ref)) AS exact_hit
FROM docs_v d LEFT JOIN hits ON d.v = hits.v
"""


QUERIES_TEXT["bloom_filter"] = (q_bloom_filter, _bloom_sql())


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for LLM training: the corpus token stream
    (whitespace token counts, doc_id order) is cut into 512-token
    training sequences; every bin except the last must be exactly
    full, and per-bin doc counts expose the straddling. Window cumsum
    + explode-to-bins + hash agg — no stateful pass."""
    from pyproj_spark.operators.packing import pack_sequences
    from pyproj_spark.operators.textstats import token_count
    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(d, capacity=512)


SQL_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
             AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS st
  FROM d WHERE n_tokens > 0
),
spans AS (
  SELECT doc_id, n_tokens, st, st + n_tokens AS en,
         unnest(range(CAST(floor(st / 512) AS BIGINT),
                      CAST(floor((st + n_tokens - 1) / 512) AS BIGINT)
                      + 1)) AS bin
  FROM s
)
SELECT bin, count(*) AS n_docs,
       CAST(sum(least(en, (bin + 1) * 512)
                - greatest(st, bin * 512)) AS BIGINT) AS n_tokens,
       round(sum(least(en, (bin + 1) * 512)
                 - greatest(st, bin * 512)) / 512.0, 6) AS fill
FROM spans GROUP BY bin
"""

QUERIES_TEXT["pack_sequences"] = (q_pack_sequences, SQL_PACK_SEQUENCES)


def q_text_normalize(spark, sf_dir):
    """Unicode normalization conformance gate: each doc's text gets a
    deterministic 'dirty' tail — a decomposed e+COMBINING-ACUTE, a
    zero-width space, a BEL control, CJK — built with IDENTICAL
    chr()-arithmetic in both engines; Spark normalizes via the
    unicodedata Arrow UDF, DuckDB via its own ICU-side
    nfc_normalize + RE2 strip. Two INDEPENDENT Unicode
    implementations must produce byte-identical text (md5-gated) —
    the strongest kind of oracle row in the suite."""
    from pyproj_spark.operators.textnorm import normalize_text
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    dirty = F.concat(
        F.col("text"), F.lit(" caf"), F.lit("e\u0301"),
        F.lit("\u200b"),
        F.when(i % 3 == 0, F.lit("\x07")).otherwise(F.lit("")),
        F.when(i % 2 == 0, F.lit("\u6f22\u5b57")).otherwise(F.lit("")),
        F.lit("\ufeff."))
    staged = d.select("doc_id", dirty.alias("dirty"))
    out = staged.select(
        "doc_id",
        F.length("dirty").alias("len_before"),
        normalize_text(F.col("dirty")).alias("norm"))
    return out.select("doc_id", "len_before",
                      F.length("norm").alias("len_after"),
                      F.md5("norm").alias("norm_hash"))


SQL_TEXT_NORMALIZE = """
WITH dirty AS (
  SELECT doc_id,
         text || ' caf' || 'e' || chr(769) || chr(8203)
           || CASE WHEN doc_id % 3 = 0 THEN chr(7) ELSE '' END
           || CASE WHEN doc_id % 2 = 0 THEN chr(28450) || chr(23383)
                   ELSE '' END
           || chr(65279) || '.' AS d
  FROM documents
)
SELECT doc_id, length(d) AS len_before,
       length(regexp_replace(nfc_normalize(d),
         '[\\x00-\\x08\\x0b-\\x1f\\x7f\\x{200b}-\\x{200d}\\x{feff}]',
         '', 'g')) AS len_after,
       md5(regexp_replace(nfc_normalize(d),
         '[\\x00-\\x08\\x0b-\\x1f\\x7f\\x{200b}-\\x{200d}\\x{feff}]',
         '', 'g')) AS norm_hash
FROM dirty
"""

QUERIES_TEXT["text_normalize"] = (q_text_normalize, SQL_TEXT_NORMALIZE)


def q_content_context(spark, sf_dir):
    """Boilerplate removal WITH jusText's neighbor-smoothing context
    pass: a short pull-quote between two body paragraphs survives
    (its neighbors are good), short nav/footer fragments still die.
    Same HOF pipeline as content_extract plus one index-transform
    over the staged block array; the oracle mirrors the neighbor
    lookups with 1-based list indexing."""
    from pyproj_spark.operators.content import extract_main_content

    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit('<body><div><a href="/">home</a> '
              '<a href="/x">links here</a></div>'),
        F.lit("<p>Tiny.</p><p>"), F.col("text"),
        F.lit("</p><p>Key point "), i, F.lit(".</p><p>"),
        F.col("text"),
        F.lit('</p><footer><a href="/t">terms</a></footer></body>'))
    out = extract_main_content(
        d.select("doc_id", page.alias("html_text")), context=True)
    return out.select("doc_id", "n_blocks", "n_good",
                      F.md5("content").alias("content_hash"),
                      "content_len")


def _content_context_sql():
    from pyproj_spark.operators.content import content_context_sql
    page = (
        "'<body><div><a href=\"/\">home</a> "
        "<a href=\"/x\">links here</a></div>"
        "<p>Tiny.</p><p>' || text || '</p><p>Key point ' "
        "|| CAST(doc_id AS VARCHAR) || '.</p><p>' || text || "
        "'</p><footer><a href=\"/t\">terms</a></footer></body>'")
    e = content_context_sql(page)
    return (f"SELECT doc_id, {e['n_blocks']} AS n_blocks, "
            f"{e['n_good']} AS n_good, "
            f"md5({e['content']}) AS content_hash, "
            f"{e['content_len']} AS content_len FROM documents")


QUERIES_TEXT["content_context"] = (q_content_context,
                                   _content_context_sql())


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level dedup (the CCNet boilerplate-removal stage):
    docs are given a deterministic multi-paragraph structure — a
    unique head, a corpus-wide boilerplate paragraph, for even ids a
    half-corpus boilerplate, a unique tail — and every paragraph
    present in >1 distinct documents is removed. The duplicated-hash
    set broadcasts back; the oracle rebuilds cleaned text
    set-algebraically and the clean hash is value-gated."""
    from pyproj_spark.operators.dedup import paragraph_dedup
    d = _docs(spark, sf_dir)
    text = F.concat(
        F.substring("text", 1, 80), F.lit("\n"),
        F.lit("subscribe to our newsletter for updates"), F.lit("\n"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("follow us on social media\n")).otherwise(F.lit("")),
        F.substring("text", 81, 1000000))
    return paragraph_dedup(
        d.select("doc_id", text.alias("text")))


SQL_PARAGRAPH_DEDUP = """
WITH built AS (
  SELECT doc_id,
         substr(text, 1, 80) || chr(10)
         || 'subscribe to our newsletter for updates' || chr(10)
         || CASE WHEN doc_id % 2 = 0
                 THEN 'follow us on social media' || chr(10)
                 ELSE '' END
         || substr(text, 81) AS text
  FROM documents
),
paras AS (
  SELECT doc_id,
         list_filter(str_split(text, chr(10)),
                     p -> trim(p) <> '') AS ps
  FROM built
),
ph AS (
  SELECT DISTINCT doc_id, md5(trim(p)) AS h
  FROM paras, UNNEST(ps) AS u(p)
),
dup AS (
  SELECT h FROM ph GROUP BY h HAVING count(*) > 1
),
dupl AS (SELECT coalesce(list(h), []) AS hs FROM dup),
cleaned AS (
  SELECT doc_id, ps,
         list_filter(ps, p -> NOT list_contains(hs, md5(trim(p))))
             AS cl
  FROM paras CROSS JOIN dupl
)
SELECT doc_id, len(ps) AS n_paras,
       len(ps) - len(cl) AS n_dup,
       md5(coalesce(array_to_string(list_transform(cl, p -> trim(p)),
                                    chr(10)), '')) AS clean_hash
FROM cleaned
"""

QUERIES_TEXT["paragraph_dedup"] = (q_paragraph_dedup,
                                   SQL_PARAGRAPH_DEDUP)


def q_simhash_pairs(spark, sf_dir):
    """SimHash hamming near-dup pairs (the original web-dedup
    design): pigeonhole banding — hamming < 4 implies an exact match
    on one of 4 four-bit bands — turns pair generation into band
    equi-joins with the same hot-band cap as minhash_lsh, then an
    exact popcount filter. The oracle recomputes signatures, bands,
    and xor-popcounts in SQL."""
    from pyproj_spark.operators.dedup import simhash_pairs
    return simhash_pairs(_docs(spark, sf_dir))


SQL_SIMHASH_PAIRS = f"""
WITH sig AS ({SQL_SIMHASH}),
keyed AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 4)) & 15 AS val
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) b
),
grp AS (
  SELECT band, val, count(*) AS n FROM keyed GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND 200
),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM keyed a
  JOIN keyed b ON a.band = b.band AND a.val = b.val
              AND a.doc_id < b.doc_id
  JOIN grp g ON g.band = a.band AND g.val = a.val
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
"""

QUERIES_TEXT["simhash_pairs"] = (q_simhash_pairs, SQL_SIMHASH_PAIRS)


def q_tone_detect(spark, sf_dir):
    """Spectral tone detection, oracle-checked end to end: each doc
    gets a REAL 16-bit WAV carrying a pure sine at one of four
    frequencies (chosen by doc_id, floor-quantized samples so both
    engines build identical integers); the operator decodes the RIFF
    bytes and measures single-frequency DFT energies, and the oracle
    recomputes the same Goertzel-style sums arithmetically from the
    sample formula. The detected frequency must match exactly and the
    dominant bin's energy share to 1e-6."""
    from pyproj_spark.operators.multimodal import audio_tone_detect

    freqs = (500, 1000, 2000, 3000)
    blobs = with_blobs(_spread(_docs(spark, sf_dir)),
                       lambda d: tone_wav(freqs[d % 4]))
    return audio_tone_detect(blobs).select(
        F.col("url").cast("long").alias("doc_id"),
        "detected_hz", "energy_share")


def _tone_sql():
    es = []
    for f in (500, 1000, 2000, 3000):
        es.append(f"""
  (SELECT pow(sum(x * cos(2 * pi() * {f} * n / 8000.0)), 2)
        + pow(sum(x * sin(2 * pi() * {f} * n / 8000.0)), 2)
   FROM (SELECT unnest(range(256)) AS n,
                floor(20000.0 * sin(2 * pi() * fr * unnest(range(256))
                                    / 8000.0)) AS x) ) AS e{f}""")
    return f"""
WITH d AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN 500 WHEN 1 THEN 1000
                          WHEN 2 THEN 2000 ELSE 3000 END) AS fr
  FROM documents
),
en AS (
  SELECT doc_id, fr, {",".join(es)}
  FROM d
)
SELECT doc_id,
  CASE greatest(e500, e1000, e2000, e3000)
    WHEN e500 THEN 500 WHEN e1000 THEN 1000
    WHEN e2000 THEN 2000 ELSE 3000 END AS detected_hz,
  round(greatest(e500, e1000, e2000, e3000)
        / (e500 + e1000 + e2000 + e3000), 6) AS energy_share
FROM en
"""


QUERIES_TEXT["tone_detect"] = (q_tone_detect, _tone_sql())


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary training (operators/bpe.py): 8 merge
    rules learned from the corpus word table — the tokenizer-training
    stage of the LLM pipeline. The oracle replays every iteration in
    DuckDB: pair counts via lateral unnest, deterministic top-1, and
    the greedy left-to-right merge application as a recursive CTE fold
    per step (every chain CTE MATERIALIZED — inlined CTEs re-expand
    the whole prefix chain per reference and the replay goes
    exponential). Integer frequencies end to end, so the learned
    merge table is engine-exact."""
    from pyproj_spark.operators.bpe import learn_bpe
    d = _docs(spark, sf_dir)
    m = learn_bpe(d, n_merges=8, max_words=2000, max_len=12)
    return m.select("step", F.col("left").alias("l"),
                    F.col("right").alias("r"), "merged", "freq")


def _bpe_sql(n_merges: int = 8, max_words: int = 2000,
             max_len: int = 12) -> str:
    parts = [f"""
WITH RECURSIVE words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
            AS w
        FROM documents)
  WHERE length(w) BETWEEN 2 AND {max_len}
  GROUP BY w ORDER BY cnt DESC, w LIMIT {max_words}
), syms0 AS MATERIALIZED (
  SELECT w, cnt,
         list_append(list_transform(range(1, length(w) + 1),
                                    i -> substr(w, i, 1)), '</w>')
             AS syms
  FROM words
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""", p{k} AS MATERIALIZED (
  SELECT s.cnt, s.syms[i] AS l, s.syms[i + 1] AS r
  FROM syms{k - 1} s, unnest(range(1, len(s.syms))) AS t(i)
), t{k} AS MATERIALIZED (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq
  FROM p{k} GROUP BY 1, 2 ORDER BY freq DESC, l, r LIMIT 1
), r{k} AS (
  SELECT w, cnt, syms AS rest, CAST([] AS VARCHAR[]) AS acc
  FROM syms{k - 1}
  UNION ALL
  SELECT w, cnt, rest[2:],
         CASE WHEN len(acc) > 0
                   AND acc[-1] = (SELECT l FROM t{k})
                   AND rest[1] = (SELECT r FROM t{k})
              THEN list_append(acc[1:len(acc) - 1],
                               (SELECT l FROM t{k})
                               || (SELECT r FROM t{k}))
              ELSE list_append(acc, rest[1]) END
  FROM r{k} WHERE len(rest) > 0
), syms{k} AS MATERIALIZED (
  SELECT w, cnt, acc AS syms FROM r{k} WHERE len(rest) = 0
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l, r, l || r AS merged, freq FROM t{k}"
        for k in range(1, n_merges + 1))
    parts.append("\n" + sel)
    return "".join(parts)


QUERIES_TEXT["bpe_merges"] = (q_bpe_merges, _bpe_sql())


#: per-cluster representative cap for the gated semdedup query: pairs
#: are bounded at SEMDEDUP_CAP * n even under a degenerate one-cluster
#: assignment. 64 is real capping at sf0.1 (clusters ~250 members)
#: while sf0.01 clusters (~60) stay mostly uncapped.
SEMDEDUP_CAP = 64


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic near-duplicate pruning at corpus scale, via
    operators/similarity.py::semdedup. The scale story is twofold:
    k-means cells bound cosine work to within-cluster pairs, AND each
    member is compared only against its cluster's SEMDEDUP_CAP
    lowest-id representatives — pair count <= cap * n, linear even if
    clustering degenerates to one mega-cluster (the uncapped rule is
    quadratic there). k=8 is gate-sized because the SQL replay cannot
    depend on n; the operator's k=None derives k from corpus size
    (SemDeDup uses ~50k clusters at LAION scale). Removal policy:
    removed iff a lower-id representative has rounded cosine >= 0.30
    (canonical-minimum survivor, the `canonical_docs` convention)."""
    from pyproj_spark.operators.similarity import semdedup
    emb = _t(spark, sf_dir, "embeddings") \
        .select("vec_id",
                F.col("embedding").cast("array<double>").alias("v"))
    return semdedup(emb, k=8, iters=1, threshold=0.30,
                    member_cap=SEMDEDUP_CAP)


def _semdedup_sql():
    # the kmeans assignment chain is the gated _kmeans_sql replay;
    # reuse it verbatim up to the final select
    km = _kmeans_sql().rsplit("SELECT vec_id", 1)[0].strip()
    cos = ("round(list_dot_product(ea.v, eb.v)"
           " / (sqrt(list_dot_product(ea.v, ea.v))"
           " * sqrt(list_dot_product(eb.v, eb.v))), 6)")
    return f"""{km},
asg AS (SELECT vec_id, cluster FROM a2),
ranked AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY vec_id)
             AS rk
  FROM asg
),
dup AS (
  SELECT DISTINCT pb.vec_id AS vec_id
  FROM ranked pa JOIN ranked pb ON pa.cluster = pb.cluster
                              AND pa.vec_id < pb.vec_id
  JOIN e ea ON ea.vec_id = pa.vec_id
  JOIN e eb ON eb.vec_id = pb.vec_id
  WHERE pa.rk <= {SEMDEDUP_CAP} AND {cos} >= 0.30
)
SELECT a.vec_id, a.cluster,
       (a.vec_id IN (SELECT vec_id FROM dup)) AS removed
FROM asg a
"""


QUERIES_TEXT["semdedup"] = (q_semdedup, _semdedup_sql())


def q_bpe_segment(spark, sf_dir):
    """Tokenizer APPLICATION side: the word table segmented by the 8
    learned merges (operators/bpe.py::segment_words) — pieces joined
    with spaces for a string-stable gate. The oracle's recursive merge
    chain already materializes exactly this as its final symbol
    state."""
    from pyproj_spark.operators.bpe import learn_bpe, segment_words
    d = _docs(spark, sf_dir)
    m = learn_bpe(d, n_merges=8).orderBy("step").collect()
    seg = segment_words(d, [(r["left"], r["right"]) for r in m])
    return seg.select("w", "cnt",
                      F.concat_ws(" ", "pieces").alias("seg"))


def _bpe_segment_sql():
    chain = _bpe_sql().rsplit("\nSELECT 1 AS step", 1)[0]
    return f"""{chain}
SELECT w, cnt, array_to_string(syms, ' ') AS seg FROM syms8
"""


QUERIES_TEXT["bpe_segment"] = (q_bpe_segment, _bpe_segment_sql())


def q_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM scoring — the natural extension of the
    CCNet-style unigram `lm_score`: per-doc mean log p with
    p(w2|w1) = 0.7·c(w1w2)/c(w1) + 0.3·(c(w2)+1)/(T+V) (Jelinek-
    Mercer interpolation with an add-one unigram backoff). Counts come
    from TWO corpus aggregations (bigram + unigram — each one
    shuffle); the corpus totals (T, V) are a 1-row aggregate joined by
    broadcast; per-doc accumulation sums round(logp·1e6) longs so the
    score is aggregation-order-independent."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != F.lit(""))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, F.lit(2), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    db = (d.select("doc_id", F.explode(bigrams).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    bc = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ut = d.select(F.explode(toks).alias("w"))
    uc = ut.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    tot = uc.agg(F.sum("cu").alias("t"),
                 F.count(F.lit(1)).alias("vsz"))
    logp = F.log(
        F.lit(0.7) * (F.col("cb") / F.col("c1"))
        + F.lit(0.3) * ((F.col("c2") + 1) / (F.col("t") + F.col("vsz"))))
    return (db
            .join(bc, ["w1", "w2"])
            .join(uc.select(F.col("w").alias("w1"),
                            F.col("cu").alias("c1")), "w1")
            .join(uc.select(F.col("w").alias("w2"),
                            F.col("cu").alias("c2")), "w2")
            .crossJoin(F.broadcast(tot))
            .select("doc_id",
                    F.round(logp * 1e6).cast("long").alias("lp"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 # no output rounding: sum and count are exact
                 # integers, so the two divisions are bit-identical on
                 # both engines — a 6dp round here once landed a doc
                 # exactly on a half boundary and the engines' round
                 # rules split (the cell_moments lesson)
                 ((F.sum("lp").cast("double") / 1e6)
                  / F.count(F.lit(1))).alias("score")))


SQL_BIGRAM_LM = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
db AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
),
bc AS (SELECT w1, w2, count(*) AS cb FROM db GROUP BY 1, 2),
uc AS (SELECT w, count(*) AS cu
       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
tot AS (SELECT sum(cu) AS tt, count(*) AS vsz FROM uc)
SELECT doc_id, count(*) AS n_bigrams,
       (CAST(sum(CAST(round(ln(
           0.7 * (cb / c1)
           + 0.3 * ((c2 + 1) / (tt + vsz))) * 1e6) AS BIGINT))
             AS DOUBLE) / 1e6) / count(*) AS score
FROM (
  SELECT db.doc_id, bc.cb, u1.cu AS c1, u2.cu AS c2, tot.tt, tot.vsz
  FROM db
  JOIN bc USING (w1, w2)
  JOIN uc u1 ON u1.w = db.w1
  JOIN uc u2 ON u2.w = db.w2
  CROSS JOIN tot
) GROUP BY doc_id
"""


QUERIES_TEXT["bigram_lm"] = (q_bigram_lm, SQL_BIGRAM_LM)


def q_kneser_ney(spark, sf_dir):
    """Kneser-Ney smoothed bigram LM scoring (Kneser & Ney 1995; Chen
    & Goodman 1998 — the canonical n-gram smoothing, and the standard
    perplexity-filter backbone before neural LMs): absolute discount
    d=0.75 with the CONTINUATION unigram backoff
    p(w2|w1) = max(c(w1w2)-d, 0)/c(w1.)
             + (d*N1+(w1.)/c(w1.)) * N1+(.w2)/N1+(..),
    where N1+ are distinct-bigram-type counts — the part plain
    interpolation (bigram_lm) lacks: a word that appears often but
    only after ONE context ("francisco") gets a LOW backoff weight.
    All quantities come from the one bigram-count table (two cheap
    reaggregations); per-doc accumulation sums round(logp*1e6) longs
    so the score is aggregation-order-independent."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != F.lit(""))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, F.lit(2), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    db = (d.select("doc_id", F.explode(bigrams).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    bc = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # context/continuation counts as WINDOWS over the one bigram-type
    # table instead of three separate re-aggregations + joins: the
    # old plan re-ran the tokenize+explode+count chain 5x (10 scans,
    # zero exchange reuse); windows keyed on w1/w2 enrich bc in one
    # evaluation. Same longs, same p formula, same rounding.
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    enr = (bc.withColumn("c1", F.sum("cb").over(w1w))
           .withColumn("n1f", F.count(F.lit(1)).over(w1w))
           .withColumn("n1p", F.count(F.lit(1)).over(w2w)))
    tot = bc.agg(F.count(F.lit(1)).alias("nbt"))
    p = (F.greatest(F.col("cb") - F.lit(0.75), F.lit(0.0))
         / F.col("c1")
         + (F.lit(0.75) * F.col("n1f") / F.col("c1"))
         * (F.col("n1p") / F.col("nbt")))
    return (db
            .join(enr, ["w1", "w2"])
            .crossJoin(F.broadcast(tot))
            .select("doc_id",
                    F.round(F.log(p) * 1e6).cast("long").alias("lp"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 ((F.sum("lp").cast("double") / 1e6)
                  / F.count(F.lit(1))).alias("score")))


SQL_KNESER_NEY = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
db AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
),
bc AS (SELECT w1, w2, count(*) AS cb FROM db GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1, count(*) AS n1f
        FROM bc GROUP BY 1),
cont AS (SELECT w2, count(*) AS n1p FROM bc GROUP BY 1),
tot AS (SELECT count(*) AS nbt FROM bc)
SELECT doc_id, count(*) AS n_bigrams,
       (CAST(sum(CAST(round(ln(
           greatest(cb - 0.75e0, 0.0e0) / c1
           + (0.75e0 * n1f / c1) * (n1p / nbt)) * 1e6) AS BIGINT))
             AS DOUBLE) / 1e6) / count(*) AS score
FROM (
  SELECT db.doc_id, bc.cb, ctx.c1, ctx.n1f, cont.n1p, tot.nbt
  FROM db
  JOIN bc USING (w1, w2)
  JOIN ctx ON ctx.w1 = db.w1
  JOIN cont ON cont.w2 = db.w2
  CROSS JOIN tot
) GROUP BY doc_id
"""


QUERIES_TEXT["kneser_ney"] = (q_kneser_ney, SQL_KNESER_NEY)


def q_good_turing(spark, sf_dir):
    """Good-Turing frequency smoothing (Good 1953 / the SGT of Gale &
    Sampson 1995, unsmoothed-N_r form): the counts-of-counts table
    N_r = #{words seen exactly r times} and the adjusted count
    r* = (r+1) * N_{r+1} / N_r — the third smoothing family next to
    Jelinek-Mercer (bigram_lm) and Kneser-Ney, and the estimator of
    UNSEEN mass p0 = N_1/T that dedup/coverage analyses lean on.
    Shape: two reaggregations of the unigram count table (corpus pass
    -> word counts -> counts-of-counts), one lead window over the
    r-ordered bounded table. Output is bounded by #distinct
    frequencies (~sqrt(T))."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != F.lit(""))
    uc = (d.select(F.explode(toks).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("r")))
    from pyspark.sql import Window
    nr = uc.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    tot = uc.agg(F.sum("r").alias("t"))
    ws = Window.orderBy("r")
    nxt = F.lead("n_r").over(ws)
    nxt_r = F.lead("r").over(ws)
    # r* defined only when N_{r+1} exists (consecutive r)
    r_star = F.when(nxt_r == F.col("r") + 1,
                    (F.col("r") + 1) * nxt
                    / F.col("n_r").cast("double"))
    return (nr.crossJoin(F.broadcast(tot))
            .select("r", "n_r",
                    r_star.alias("r_star"),
                    (F.col("r") * F.col("n_r")).alias("mass"),
                    (F.col("r") * F.col("n_r")
                     / F.col("t").cast("double")).alias("p_mass"))
            .orderBy("r"))


SQL_GOOD_TURING = """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
uc AS (SELECT w, count(*) AS r
       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
nr AS (SELECT r, count(*) AS n_r FROM uc GROUP BY 1),
tot AS (SELECT CAST(sum(r) AS BIGINT) AS tt FROM uc),
led AS (
  SELECT r, n_r,
         lead(n_r) OVER (ORDER BY r) AS nxt,
         lead(r) OVER (ORDER BY r) AS nxt_r
  FROM nr
)
SELECT r, n_r,
       CASE WHEN nxt_r = r + 1
            THEN (r + 1) * nxt / CAST(n_r AS DOUBLE) END AS r_star,
       CAST(r * n_r AS BIGINT) AS mass,
       r * n_r / CAST(tt AS DOUBLE) AS p_mass
FROM led CROSS JOIN tot
ORDER BY r
"""


QUERIES_TEXT["good_turing"] = (q_good_turing, SQL_GOOD_TURING)


def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, Schleimer et al. 2003): k=4-gram
    hashes, window w=5 minima with rightmost tie-break — the LOCAL
    fingerprint family (guaranteed detection of >= w+k-1 token
    overlaps) next to the global minhash/simhash gates. The oracle
    replays gram hashing, the position-packed tie-break, and the
    window minima with DuckDB list lambdas (operators/dedup.py::
    winnow_fingerprints)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    return dedup.winnow_fingerprints(d)


_WINNOW_GRAM = _H8.format(
    expr="tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3]"
         " || ' ' || tk[i + 4]")

SQL_WINNOW = f"""
WITH toks AS (
  SELECT doc_id, str_split({_NORM_SQL}, ' ') AS tk
  FROM documents WHERE doc_id < 1000
),
grams AS (
  SELECT doc_id,
         list_transform(range(greatest(len(tk) - 3, 0)),
           i -> {_WINNOW_GRAM} * 1048576 + (1048575 - i)) AS ch
  FROM toks
),
wm AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(ch) - 4, 0)),
           j -> list_min(ch[j + 1:j + 5]))) AS fps
  FROM grams
)
SELECT doc_id, c // 1048576 AS fp, 1048575 - (c % 1048576) AS pos
FROM wm, UNNEST(fps) AS u(c)
"""

QUERIES_TEXT["winnow"] = (q_winnow, SQL_WINNOW)


def q_cocitation(spark, sf_dir):
    """Co-citation similarity over the host link graph (Small 1973 /
    the "related pages" primitive): two hosts are similar when the
    same sources link to both; cosine-normalized by in-degree. Scale
    shape: pair candidates come from per-SOURCE sorted dst arrays
    expanded with array HOFs under an out-degree cap (<= 40) — hub
    sources are excluded instead of exploding quadratically, the same
    guard class as the LSH hot-band cap. Counts are exact ints; the
    similarity divides exact ints once, so it hashes unrounded."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    dsts = F.array(s(i % 97), s((i * 13 + 5) % 97), s((i * 29 + 11) % 97))
    edges = (d.select(F.concat(F.lit("h"), s(i % 59)).alias("src"),
                      F.explode(dsts).alias("dn"))
             .select("src", F.concat(F.lit("h"), F.col("dn")).alias("dst"))
             .distinct())
    grp = (edges.groupBy("src")
           .agg(F.sort_array(F.collect_set("dst")).alias("ds"))
           .filter((F.size("ds") >= 2) & (F.size("ds") <= 100)))
    pairs = grp.select(F.explode(F.flatten(F.transform(
        F.sequence(F.lit(0), F.size("ds") - 2),
        lambda j: F.transform(
            F.slice(F.col("ds"), j + 2, F.size("ds")),
            lambda m: F.struct(
                F.element_at(F.col("ds"), (j + 1).cast("int"))
                .alias("id_a"),
                m.alias("id_b")))))).alias("p")).select("p.*")
    common = (pairs.groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    out = (common
           .join(ind.select(F.col("dst").alias("id_a"),
                            F.col("ind").alias("ia")), "id_a")
           .join(ind.select(F.col("dst").alias("id_b"),
                            F.col("ind").alias("ib")), "id_b"))
    sim = (F.col("n_common").cast("double")
           / F.sqrt(F.col("ia").cast("double")
                    * F.col("ib").cast("double")))
    return out.select("id_a", "id_b", "n_common", sim.alias("cocite_sim"))


SQL_COCITATION = """
WITH e AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 59 AS VARCHAR) AS src,
         'h' || CAST(d AS VARCHAR) AS dst
  FROM documents, UNNEST([doc_id % 97, (doc_id * 13 + 5) % 97,
                          (doc_id * 29 + 11) % 97]) AS u(d)
),
ok AS (SELECT src FROM e GROUP BY src
       HAVING count(*) BETWEEN 2 AND 100),
p AS (
  SELECT a.dst AS id_a, b.dst AS id_b, count(*) AS n_common
  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
  JOIN ok ON ok.src = a.src
  GROUP BY 1, 2
),
ind AS (SELECT dst, count(*) AS ind FROM e GROUP BY 1)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE)
         / sqrt(CAST(ia.ind AS DOUBLE) * CAST(ib.ind AS DOUBLE))
         AS cocite_sim
FROM p
JOIN ind ia ON ia.dst = p.id_a
JOIN ind ib ON ib.dst = p.id_b
"""

QUERIES_TEXT["cocitation"] = (q_cocitation, SQL_COCITATION)


def q_dsir_sample(spark, sf_dir):
    """DSIR pretraining-data selection (Xie et al. 2023): importance
    resampling toward a target corpus (here lang='en') in a hashed
    token-bucket feature space. One corpus pass builds the FIXED-size
    (1024-row) bucket log-ratio table (map-side partial agg ->
    broadcast); per-doc weights are exact-long micro sums; Gumbel
    top-k with md5 coins makes the sample-without-replacement
    deterministic across runs, partitionings, and engines
    (`operators/dsir.py`). The at-scale shape of learned data
    selection: no corpus-size state anywhere but the doc-keyed sum."""
    from pyproj_spark.operators.dsir import (bucket_log_ratios,
                                             dsir_weights, gumbel_topk)
    docs = _spread(_docs(spark, sf_dir))
    ratios = bucket_log_ratios(docs, F.col("lang") == "en")
    w = dsir_weights(docs, ratios)
    return gumbel_topk(w, 150).select(
        "doc_id", "n_toks", "w_micros", "sel_key")


SQL_DSIR_SAMPLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token,
         lang = 'en' AS is_t
  FROM documents
),
tb AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024
             AS bucket
  FROM toks
),
pb AS (
  SELECT bucket,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         count(*) AS cr
  FROM tb GROUP BY 1
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM pb),
lr AS (
  SELECT bucket,
         CAST(round((ln((ct + 1.0) / (tt + 1024.0))
                     - ln((cr + 1.0) / (tr + 1024.0))) * 1e6)
              AS BIGINT) AS lr_micros
  FROM pb, tot
),
s AS (
  SELECT tb.doc_id,
         CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(lr.lr_micros) AS BIGINT) AS w_micros
  FROM tb JOIN lr USING (bucket) GROUP BY 1
),
w AS (
  SELECT d.doc_id,
         coalesce(s.n_toks, 0) AS n_toks,
         coalesce(s.w_micros, 0) AS w_micros
  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
)
SELECT doc_id, n_toks, w_micros,
       w_micros / 1e6
       + (- ln(- ln((CAST(('0x' || substr(
               md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) + 0.5) / 4294967296.0))) AS sel_key
FROM w
ORDER BY sel_key DESC, doc_id
LIMIT 150
"""

QUERIES_TEXT["dsir_sample"] = (q_dsir_sample, SQL_DSIR_SAMPLE)


def q_sq8_ann(spark, sf_dir):
    """int8 scalar-quantized embedding search (the memory-scale path:
    4x smaller vectors, integer arithmetic): per-dim min/max stats ->
    affine int8 codes -> exact-long code dot products -> top-5 per
    query (`operators/similarity.py::sq8_topk`). Everything after the
    stats agg is exact integers, so the oracle replays the WHOLE
    pipeline — stats, codes, scores, ranks — bit-for-bit in SQL."""
    from pyproj_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 1000)
    queries = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") < 8)
               .withColumnRenamed("vec_id", "qid"))
    return similarity.sq8_topk(emb, queries, k=5)


SQL_SQ8_ANN = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 1000),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 8),
stats AS (
  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
  FROM e, UNNEST(generate_series(1, 64)) AS t(i)
  GROUP BY i
),
ec AS (
  SELECT vec_id,
         list(CASE WHEN mx > mn
                   THEN CAST(round((v[i] - mn) / (mx - mn) * 255.0)
                             AS BIGINT) - 128
                   ELSE 0 END ORDER BY i) AS c
  FROM e CROSS JOIN stats
  GROUP BY vec_id
),
qc AS (
  SELECT qid,
         list(CASE WHEN mx > mn
                   THEN CAST(round((v[i] - mn) / (mx - mn) * 255.0)
                             AS BIGINT) - 128
                   ELSE 0 END ORDER BY i) AS c
  FROM q CROSS JOIN stats
  GROUP BY qid
),
cand AS (
  SELECT qid, vec_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
                                      i -> ec.c[i] * qc.c[i]))
              AS BIGINT) AS score
  FROM ec CROSS JOIN qc WHERE vec_id != qid
),
ranked AS (
  SELECT qid, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id) AS rank
  FROM cand
)
SELECT qid, rank, vec_id, score FROM ranked WHERE rank <= 5
"""

QUERIES_TEXT["sq8_ann"] = (q_sq8_ann, SQL_SQ8_ANN)


def q_pq_ann(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance (Jegou et
    al. 2011; `operators/similarity.py::pq_adc_topk`): codebooks are
    TRAINED — an independent SQL-replayable k-means (first-16 init,
    one rounded Lloyd pass) per 16-dim subspace — then 64-d vectors
    compress to 4 small codes and candidates cost 4 integer lookups
    + an exact-long sum. The oracle re-derives the codebooks, every
    code, and every distance-table entry from the data alone and
    hash-matches the ranking — the full train/encode/search pipeline
    cross-checked across engines."""
    from pyproj_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 1000)
    queries = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") < 8)
               .withColumnRenamed("vec_id", "qid"))
    return similarity.pq_adc_topk(emb, queries, k=5)


def _pq_sql():
    """Per-subspace replay of the kmeans-oracle pattern (see
    _kmeans_sql): c0 = first-16 subvectors, one rounded Lloyd pass,
    argmin codes, exact-long query tables, 4-lookup ADC sum."""
    dist = ("round(list_aggregate(list_transform(range(1, 17), "
            "i -> power(sv[i] - c[i], 2)), 'sum'), 6)")
    rawd = ("list_aggregate(list_transform(range(1, 17), "
            "i -> power(sv[i] - c[i], 2)), 'sum')")
    parts = ["""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 1000),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 8)"""]
    for m in range(4):
        lo, hi = m * 16 + 1, m * 16 + 16
        parts.append(f""",
em{m} AS MATERIALIZED (
  SELECT vec_id, list_slice(v, {lo}, {hi}) AS sv FROM e
),
qm{m} AS (SELECT qid, list_slice(v, {lo}, {hi}) AS sv FROM q),
c0_{m} AS (SELECT vec_id AS cl, sv AS c FROM em{m} WHERE vec_id < 16),
a{m} AS MATERIALIZED (
  SELECT vec_id, cl AS cluster FROM (
    SELECT em{m}.vec_id, c0_{m}.cl,
           row_number() OVER (PARTITION BY em{m}.vec_id
                              ORDER BY {dist}, cl) AS rk
    FROM em{m} CROSS JOIN c0_{m}) WHERE rk = 1
),
mu{m} AS (
  SELECT a{m}.cluster, g.i, round(avg(em{m}.sv[g.i]), 6) AS mval
  FROM a{m} JOIN em{m} USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 17)) AS i) g
  GROUP BY a{m}.cluster, g.i
),
c1_{m} AS MATERIALIZED (
  SELECT c0_{m}.cl, coalesce(mm.c, c0_{m}.c) AS c
  FROM c0_{m} LEFT JOIN (
    SELECT cluster AS cl, list(mval ORDER BY i) AS c
    FROM mu{m} GROUP BY 1) mm USING (cl)
),
code{m} AS MATERIALIZED (
  SELECT vec_id, cl AS code FROM (
    SELECT em{m}.vec_id, c1_{m}.cl,
           row_number() OVER (PARTITION BY em{m}.vec_id
                              ORDER BY {dist}, cl) AS rk
    FROM em{m} CROSS JOIN c1_{m}) WHERE rk = 1
),
qt{m} AS MATERIALIZED (
  SELECT qid, cl,
         CAST(round({rawd} * 1e9) AS BIGINT) AS t
  FROM qm{m} CROSS JOIN c1_{m}
)""")
    parts.append("""
SELECT qid, rank, vec_id, dist FROM (
  SELECT qid, vec_id, dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist, vec_id) AS rank
  FROM (
    SELECT qt0.qid, code0.vec_id,
           qt0.t + qt1.t + qt2.t + qt3.t AS dist
    FROM code0
    JOIN code1 USING (vec_id) JOIN code2 USING (vec_id)
    JOIN code3 USING (vec_id)
    JOIN qt0 ON qt0.cl = code0.code
    JOIN qt1 ON (qt1.qid = qt0.qid AND qt1.cl = code1.code)
    JOIN qt2 ON (qt2.qid = qt0.qid AND qt2.cl = code2.code)
    JOIN qt3 ON (qt3.qid = qt0.qid AND qt3.cl = code3.code)
    WHERE code0.vec_id != qt0.qid)
) WHERE rank <= 5
""")
    return "".join(parts)


QUERIES_TEXT["pq_ann"] = (q_pq_ann, _pq_sql())


def q_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (FAISS-style composition of the gated IVF and PQ
    paths; `operators/similarity.py::ivfpq_topk`): md5 coarse cells
    prune to nprobe=2, residuals are product-quantized with TRAINED
    codebooks, queries build one exact-long ADC table per probed
    cell. The oracle re-derives coarse centroids with DuckDB's own
    md5, recomputes residuals, replays the per-subspace Lloyd
    training, and hash-matches the final ranking — the whole
    index build + search cross-checked across engines."""
    from pyproj_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 1000)
    queries = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") < 8)
               .withColumnRenamed("vec_id", "qid"))
    return similarity.ivfpq_topk(emb, queries, k=5)


def _ivfpq_sql():
    dist = ("round(list_aggregate(list_transform(range(1, 17), "
            "i -> power(sv[i] - c[i], 2)), 'sum'), 6)")
    rawd = ("list_aggregate(list_transform(range(1, 17), "
            "i -> power(sv[i] - c[i], 2)), 'sum')")
    comp = ("((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || "
            "CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 20001 "
            "- 10000) / 10000.0)")
    parts = [f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 1000),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 8),
cmp AS MATERIALIZED (
  SELECT j, list_transform(generate_series(1, 64),
                           i -> {comp}) AS c
  FROM range(8) t(j)
),
ecell AS MATERIALIZED (
  SELECT vec_id, j + 1 AS cell FROM (
    SELECT e.vec_id, cmp.j,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(generate_series(1, 64),
                      i -> v[i] * c[i])) DESC, j) AS rk
    FROM e CROSS JOIN cmp) WHERE rk = 1
),
eres AS MATERIALIZED (
  SELECT e.vec_id, ecell.cell,
         list_transform(generate_series(1, 64),
                        i -> v[i] - c[i]) AS r
  FROM e JOIN ecell USING (vec_id)
  JOIN cmp ON cmp.j + 1 = ecell.cell
),
qcell AS (
  SELECT qid, j + 1 AS cell FROM (
    SELECT q.qid, cmp.j,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(generate_series(1, 64),
                      i -> v[i] * c[i])) DESC, j) AS rk
    FROM q CROSS JOIN cmp) WHERE rk <= 2
),
qres AS MATERIALIZED (
  SELECT q.qid, qcell.cell,
         list_transform(generate_series(1, 64),
                        i -> v[i] - c[i]) AS r
  FROM q JOIN qcell USING (qid)
  JOIN cmp ON cmp.j + 1 = qcell.cell
)"""]
    for m in range(4):
        lo, hi = m * 16 + 1, m * 16 + 16
        parts.append(f""",
em{m} AS MATERIALIZED (
  SELECT vec_id, list_slice(r, {lo}, {hi}) AS sv FROM eres
),
qm{m} AS (SELECT qid, cell, list_slice(r, {lo}, {hi}) AS sv
          FROM qres),
c0_{m} AS (SELECT vec_id AS cl, sv AS c FROM em{m} WHERE vec_id < 16),
a{m} AS MATERIALIZED (
  SELECT vec_id, cl AS cluster FROM (
    SELECT em{m}.vec_id, c0_{m}.cl,
           row_number() OVER (PARTITION BY em{m}.vec_id
                              ORDER BY {dist}, cl) AS rk
    FROM em{m} CROSS JOIN c0_{m}) WHERE rk = 1
),
mu{m} AS (
  SELECT a{m}.cluster, g.i, round(avg(em{m}.sv[g.i]), 6) AS mval
  FROM a{m} JOIN em{m} USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 17)) AS i) g
  GROUP BY a{m}.cluster, g.i
),
c1_{m} AS MATERIALIZED (
  SELECT c0_{m}.cl, coalesce(mm.c, c0_{m}.c) AS c
  FROM c0_{m} LEFT JOIN (
    SELECT cluster AS cl, list(mval ORDER BY i) AS c
    FROM mu{m} GROUP BY 1) mm USING (cl)
),
code{m} AS MATERIALIZED (
  SELECT vec_id, cl AS code FROM (
    SELECT em{m}.vec_id, c1_{m}.cl,
           row_number() OVER (PARTITION BY em{m}.vec_id
                              ORDER BY {dist}, cl) AS rk
    FROM em{m} CROSS JOIN c1_{m}) WHERE rk = 1
),
qt{m} AS MATERIALIZED (
  SELECT qid, cell, cl,
         CAST(round({rawd} * 1e9) AS BIGINT) AS t
  FROM qm{m} CROSS JOIN c1_{m}
)""")
    parts.append("""
SELECT qid, rank, vec_id, dist FROM (
  SELECT qid, vec_id, dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist, vec_id) AS rank
  FROM (
    SELECT qt0.qid, ecell.vec_id,
           qt0.t + qt1.t + qt2.t + qt3.t AS dist
    FROM ecell
    JOIN code0 USING (vec_id) JOIN code1 USING (vec_id)
    JOIN code2 USING (vec_id) JOIN code3 USING (vec_id)
    JOIN qt0 ON (qt0.cell = ecell.cell AND qt0.cl = code0.code)
    JOIN qt1 ON (qt1.qid = qt0.qid AND qt1.cell = ecell.cell
                 AND qt1.cl = code1.code)
    JOIN qt2 ON (qt2.qid = qt0.qid AND qt2.cell = ecell.cell
                 AND qt2.cl = code2.code)
    JOIN qt3 ON (qt3.qid = qt0.qid AND qt3.cell = ecell.cell
                 AND qt3.cl = code3.code)
    WHERE ecell.vec_id != qt0.qid)
) WHERE rank <= 5
""")
    return "".join(parts)


QUERIES_TEXT["ivfpq"] = (q_ivfpq, _ivfpq_sql())


def q_fertility(spark, sf_dir):
    """Tokenizer fertility — mean BPE tokens per word and chars per
    token, per language: the metric that decides whether a tokenizer
    taxes some languages with more tokens per word (the
    multilingual-pretraining cost model). Reuses the gated BPE
    machinery: learn 8 merges corpus-wide, segment the capped word
    table once (broadcast — ≤2000 rows by construction), join
    per-lang word usage, and aggregate EXACT long token/char sums;
    the two output ratios are single divisions of exact longs."""
    from pyproj_spark.operators.bpe import learn_bpe, segment_words
    d = _docs(spark, sf_dir)
    m = learn_bpe(d, n_merges=8).orderBy("step").collect()
    seg = segment_words(d, [(r["left"], r["right"]) for r in m]) \
        .select("w", F.size("pieces").alias("n_pieces"))
    lw = (d.select("lang", F.explode(
        F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .filter((F.length("w") >= 2) & (F.length("w") <= 12))
        .groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cw")))
    j = lw.join(F.broadcast(seg), "w")
    agg = j.groupBy("lang").agg(
        F.sum("cw").alias("n_words"),
        F.sum(F.col("cw") * F.col("n_pieces")).alias("n_tokens"),
        F.sum(F.col("cw") * F.length("w")).alias("n_chars"))
    return agg.select(
        "lang", "n_words", "n_tokens",
        (F.col("n_tokens") / F.col("n_words")).alias("fertility"),
        (F.col("n_chars") / F.col("n_tokens")).alias("chars_per_tok"))


def _fertility_sql():
    chain = _bpe_sql().rsplit("\nSELECT 1 AS step", 1)[0]
    return f"""{chain}
, lw AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS cw
  FROM (SELECT lang,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
                   AS w
        FROM documents)
  WHERE length(w) BETWEEN 2 AND 12
  GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(cw) AS BIGINT) AS n_words,
       CAST(sum(cw * len(syms)) AS BIGINT) AS n_tokens,
       CAST(sum(cw * len(syms)) AS BIGINT)
           / CAST(sum(cw) AS BIGINT) AS fertility,
       CAST(sum(cw * length(w)) AS BIGINT)
           / CAST(sum(cw * len(syms)) AS BIGINT) AS chars_per_tok
FROM lw JOIN syms8 USING (w)
GROUP BY lang
"""


QUERIES_TEXT["fertility"] = (q_fertility, _fertility_sql())


def q_symspell(spark, sf_dir):
    """Typo-regime near-dup pairs (SymSpell symmetric-delete blocking,
    operators/dedup.py::symspell_pairs): titles synthesized with
    single-character deletions/insertions injected on a doc_id schedule,
    every pair within Levenshtein <= 1 recovered via the depth-1
    deletion-neighborhood equi-join + exact native levenshtein verify.
    The oracle is covering-BLIND (raw a.id < b.id pair join with the
    same levenshtein filter), so hash equality proves the blocking
    misses no pair — the completeness theorem, certified on data."""
    d = _spread(_docs(spark, sf_dir))
    i = F.col("doc_id")
    t0 = F.concat(F.lit("w"), (i % 40).cast("string"),
                  F.lit(" report "), (i % 7).cast("string"))
    title = (F.when(i % 5 == 0,
                    t0.substr(F.lit(1), F.length(t0) - F.lit(1)))
             .when(i % 5 == 1, F.concat(t0, F.lit("x")))
             .otherwise(t0))
    titles = d.select("doc_id", title.alias("title"))
    from pyproj_spark.operators.dedup import symspell_pairs
    return symspell_pairs(titles)


SQL_SYMSPELL = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN substr(t0, 1, length(t0) - 1)
              WHEN doc_id % 5 = 1 THEN t0 || 'x'
              ELSE t0 END AS title
  FROM (SELECT doc_id,
               'w' || CAST(doc_id % 40 AS VARCHAR) || ' report '
                   || CAST(doc_id % 7 AS VARCHAR) AS t0
        FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
FROM t a JOIN t b
  ON a.doc_id < b.doc_id
 AND abs(length(a.title) - length(b.title)) <= 1
 AND levenshtein(a.title, b.title) <= 1
"""


QUERIES_TEXT["symspell_pairs"] = (q_symspell, SQL_SYMSPELL)


def q_anchor_text(spark, sf_dir):
    """Anchor-text index build (the web-search relevance signal PageRank
    doesn't carry): hyperlinks extract natively
    (operators/extract.py::extract_links), anchor strings tokenize with
    a native split, and each link TARGET aggregates its incoming anchor
    vocabulary — total in-links, distinct referring hosts (diversity),
    and the dominant anchor term (count desc, term asc tie-break) via
    one window over the (dst, term) counts. Two hash aggregations and
    one window; no Python anywhere."""
    from pyproj_spark.operators.extract import extract_links
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    def a(dst, txt):
        return F.concat(F.lit('<a href="http://h'), dst,
                        F.lit('.example.com/p/'), s(i), F.lit('">'),
                        txt, F.lit("</a>"))

    html = F.concat(
        F.lit("<html><body>"),
        a(s(i % 89), F.concat(F.lit("w"), s(i % 23), F.lit(" q"),
                              s(i % 13))),
        F.lit("<p>filler</p>"),
        a(s((i * 17 + 3) % 89), F.concat(F.lit("w"), s(i % 23))),
        F.lit("</body></html>"))
    pages = d.select(F.concat(F.lit("h"), s(i % 59)).alias("src_host"),
                     html.alias("html"))
    links = extract_links(pages)
    per_host = links.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.countDistinct("src_host").alias("n_src_hosts"))
    from pyspark.sql import Window
    terms = (links
             .select("dst_host",
                     F.explode(F.split("anchor_text", " ")).alias("term"))
             .where(F.col("term") != "")
             .groupBy("dst_host", "term")
             .agg(F.count(F.lit(1)).alias("term_n")))
    w = Window.partitionBy("dst_host").orderBy(
        F.col("term_n").desc(), F.col("term").asc())
    top = (terms.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select("dst_host", F.col("term").alias("top_term"),
                   F.col("term_n").alias("top_term_n")))
    return per_host.join(top, "dst_host")


SQL_ANCHOR_TEXT = """
WITH pages AS (
  SELECT 'h' || CAST(doc_id % 59 AS VARCHAR) AS src_host,
         '<html><body>'
         || '<a href="http://h' || CAST(doc_id % 89 AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || 'w' || CAST(doc_id % 23 AS VARCHAR)
         || ' q' || CAST(doc_id % 13 AS VARCHAR) || '</a>'
         || '<p>filler</p>'
         || '<a href="http://h' || CAST((doc_id * 17 + 3) % 89 AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || 'w' || CAST(doc_id % 23 AS VARCHAR) || '</a>'
         || '</body></html>' AS html
  FROM documents
),
links AS (
  SELECT src_host,
         unnest(regexp_extract_all(html,
             '<a href="https?://([^/"]+)[^"]*">([^<]*)</a>', 1))
             AS dst_host,
         unnest(regexp_extract_all(html,
             '<a href="https?://([^/"]+)[^"]*">([^<]*)</a>', 2))
             AS anchor_text
  FROM pages
),
per_host AS (
  SELECT dst_host, CAST(count(*) AS BIGINT) AS n_anchors,
         CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
  FROM links GROUP BY 1
),
terms AS (
  SELECT dst_host, term, CAST(count(*) AS BIGINT) AS term_n
  FROM (SELECT dst_host,
               unnest(string_split(anchor_text, ' ')) AS term
        FROM links)
  WHERE term <> '' GROUP BY 1, 2
),
top AS (
  SELECT dst_host, term AS top_term, term_n AS top_term_n
  FROM (SELECT *, row_number() OVER (PARTITION BY dst_host
                  ORDER BY term_n DESC, term ASC) AS rn FROM terms)
  WHERE rn = 1
)
SELECT p.dst_host, p.n_anchors, p.n_src_hosts, t.top_term, t.top_term_n
FROM per_host p JOIN top t USING (dst_host)
"""


QUERIES_TEXT["anchor_text"] = (q_anchor_text, SQL_ANCHOR_TEXT)


def q_corpus_drift(spark, sf_dir):
    """Corpus drift monitor (the data-quality alarm between crawl
    snapshots): unigram distributions of two snapshot halves compared
    by per-token Jensen-Shannon contributions. Each token's
    0.5*p*ln(p/m) + 0.5*q*ln(q/m) term is rounded to exact integer
    NANO units BEFORE any distributed reduction (the repo's float-sum
    determinism rule), and the report is the top 30 drift tokens via
    TakeOrderedAndProject — never a global window. Two corpus
    aggregations + one broadcast of the 2-row totals."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        (F.col("doc_id") % 2).alias("snap"),
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
    toks = toks.where((F.length("token") >= 2) & (F.length("token") <= 12))
    counts = (toks.groupBy("token")
              .agg(F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
                   .alias("c1"),
                   F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
                   .alias("c2")))
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("c1").cast("double") / F.col("n1").cast("double")
    q = F.col("c2").cast("double") / F.col("n2").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (F.when(F.col("c1") > 0, p * F.log(p / m) / F.lit(2.0))
            .otherwise(F.lit(0.0))
            + F.when(F.col("c2") > 0, q * F.log(q / m) / F.lit(2.0))
            .otherwise(F.lit(0.0)))
    out = j.select("token", "c1", "c2",
                   F.round(term * 1e9).cast("long").alias("jsd_nano"))
    return (out.orderBy(F.col("jsd_nano").desc(), F.col("token"))
            .limit(30))


SQL_CORPUS_DRIFT = """
WITH toks AS (
  SELECT doc_id % 2 AS snap,
         unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM toks WHERE length(token) BETWEEN 2 AND 12 GROUP BY 1
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2 FROM counts),
terms AS (
  SELECT token, c1, c2,
         CAST(round((
           CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                * ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                     / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0))
                / 2.0 ELSE 0.0 END
           + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                * ln((CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0))
                / 2.0 ELSE 0.0 END) * 1e9) AS BIGINT) AS jsd_nano
  FROM counts, tot
)
SELECT token, c1, c2, jsd_nano
FROM terms ORDER BY jsd_nano DESC, token LIMIT 30
"""


QUERIES_TEXT["corpus_drift"] = (q_corpus_drift, SQL_CORPUS_DRIFT)


# ------------------------------------------------ CDC chunk dedup

def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (operators/dedup.py::
    cdc_chunk_table): position-independent md5-anchor boundaries ->
    per-source chunk-level dedup ratio, the storage/span-dedup stage
    between exact (whole-doc) and n-gram (dup_spans) granularity.
    distinct counts are per source; the oracle replays the identical
    running-sum chunking in SQL."""
    from pyproj_spark.operators.dedup import cdc_chunk_table
    docs = _docs(spark, sf_dir)
    chunks = cdc_chunk_table(docs).join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id")
    return (chunks.groupBy("source")
            .agg(F.count(F.lit(1)).alias("total_chunks"),
                 F.countDistinct("chunk_hash").alias("distinct_chunks"),
                 F.sum("n_words").alias("total_words")))


SQL_CDC_CHUNKS = f"""
WITH words AS (
  SELECT doc_id AS id,
         generate_subscripts(str_split({_NORM_SQL}, ' '), 1) - 1 AS pos,
         unnest(str_split({_NORM_SQL}, ' ')) AS word
  FROM documents
),
grp AS (
  SELECT id, pos, word,
         sum(CASE WHEN substr(md5(word), 1, 1) = '0' THEN 1 ELSE 0 END)
             OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS grp
  FROM words
),
chunks AS (
  SELECT id, grp, md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash,
         count(*) AS n_words
  FROM grp GROUP BY 1, 2
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS total_chunks,
       CAST(count(DISTINCT c.chunk_hash) AS BIGINT) AS distinct_chunks,
       CAST(sum(c.n_words) AS BIGINT) AS total_words
FROM chunks c JOIN documents d ON c.id = d.doc_id
GROUP BY 1
"""


QUERIES_TEXT["cdc_chunks"] = (q_cdc_chunks, SQL_CDC_CHUNKS)


# ------------------------------------------------ sitemap ingestion

def q_sitemap_parse(spark, sf_dir):
    """Sitemap ingestion round-trip (operators/extract.py::
    parse_sitemaps): per-source sitemap XML synthesized from the
    corpus (the warc_ingest pattern — container bytes built, then
    parsed back by the REAL parser), then every derived stat comes
    ONLY from the parsed entries: url count, doc-id sum re-extracted
    from the <loc> paths, distinct lastmod days, exact priority
    decimal sum."""
    from pyproj_spark.operators.extract import parse_sitemaps
    d = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit("/d/"),
        d.cast("string"), F.lit("</loc><lastmod>2024-"),
        F.lpad((d % 12 + 1).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((d % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."),
        (d % 9 + 1).cast("string"), F.lit("</priority></url>"))
    xml = (_docs(spark, sf_dir)
           .select(F.col("source").alias("host"), d.alias("doc_id"),
                   entry.alias("e"))
           .groupBy("host")
           .agg(F.concat(
               F.lit('<?xml version="1.0"?><urlset>'),
               F.array_join(F.transform(
                   F.array_sort(F.collect_list(F.struct("doc_id", "e"))),
                   lambda s: s["e"]), ""),
               F.lit("</urlset>")).alias("xml")))
    ent = parse_sitemaps(xml)
    return (ent.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.sum(F.regexp_extract("loc", r"/d/(\d+)$", 1)
                       .cast("long")).alias("id_sum"),
                 F.countDistinct("lastmod").alias("n_days"),
                 F.sum(F.regexp_extract("priority", r"0\.(\d)", 1)
                       .cast("long")).alias("pri_tenths")))


SQL_SITEMAP = """
WITH xml AS (
  SELECT source AS host,
         '<?xml version="1.0"?><urlset>'
         || string_agg('<url><loc>https://' || source || '/d/' || doc_id
             || '</loc><lastmod>2024-'
             || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
             || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || '</lastmod><priority>0.' || CAST(doc_id % 9 + 1 AS VARCHAR)
             || '</priority></url>', '' ORDER BY doc_id)
         || '</urlset>' AS xml
  FROM documents GROUP BY 1
),
ent AS (
  SELECT host,
         unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)) AS loc,
         unnest(regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1))
             AS lastmod,
         unnest(regexp_extract_all(xml, '<priority>([^<]*)</priority>', 1))
             AS priority
  FROM xml
)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CAST(regexp_extract(loc, '/d/(\\d+)$', 1) AS BIGINT))
            AS BIGINT) AS id_sum,
       CAST(count(DISTINCT lastmod) AS BIGINT) AS n_days,
       CAST(sum(CAST(regexp_extract(priority, '0\\.(\\d)', 1) AS BIGINT))
            AS BIGINT) AS pri_tenths
FROM ent GROUP BY 1
"""


QUERIES_TEXT["sitemap_parse"] = (q_sitemap_parse, SQL_SITEMAP)


# ------------------------------------------------ readability

def q_readability(spark, sf_dir):
    """Flesch reading-ease quality filter (operators/textstats.py::
    readability): per-language means of the three exact integer
    signals plus the FRE closed on exact sums — the grade-level
    curation axis quality_filter (Gopher) does not cover."""
    from pyproj_spark.operators.textstats import readability
    docs = _docs(spark, sf_dir)
    per = readability(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").cast("long").alias("words"),
                 F.sum("n_sents").cast("long").alias("sents"),
                 F.sum("n_syll").cast("long").alias("sylls"))
            .withColumn("fre_corpus",
                        F.lit(206.835)
                        - F.lit(1.015) * F.col("words") / F.col("sents")
                        - F.lit(84.6) * F.col("sylls") / F.col("words")))


SQL_READABILITY = """
WITH per AS (
  SELECT doc_id, lang,
         len(list_filter(str_split(trim(regexp_replace(lower(text),
             '[^a-z ]', ' ', 'g')), ' '), w -> w != '')) AS n_words,
         greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
             s -> trim(s) != '')), 1) AS n_sents,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS words,
       CAST(sum(n_sents) AS BIGINT) AS sents,
       CAST(sum(n_syll) AS BIGINT) AS sylls,
       206.835 - 1.015 * (CAST(sum(n_words) AS DOUBLE)
                          / CAST(sum(n_sents) AS DOUBLE))
               - 84.6 * (CAST(sum(n_syll) AS DOUBLE)
                         / CAST(sum(n_words) AS DOUBLE)) AS fre_corpus
FROM per GROUP BY 1
"""


QUERIES_TEXT["readability"] = (q_readability, SQL_READABILITY)


# ------------------------------------------------ RAKE keywords

def q_rake_keywords(spark, sf_dir):
    """Corpus RAKE keyword extraction (operators/search.py::
    rake_keywords): top stopword-free phrases by summed
    degree/frequency word scores in exact micro units."""
    from pyproj_spark.operators.search import rake_keywords
    return rake_keywords(_docs(spark, sf_dir), top_k=30)


def _rake_sql() -> str:
    from pyproj_spark.operators.search import RAKE_STOPWORDS
    stoppat = r"\b(" + "|".join(RAKE_STOPWORDS) + r")\b"
    return f"""
WITH occ AS (
  SELECT unnest(list_filter(
      list_transform(
          str_split(regexp_replace(
              regexp_replace(lower(text), '[^a-z ]', '|', 'g'),
              '{stoppat}', '|', 'g'), '|'),
          p -> trim(regexp_replace(p, ' +', ' ', 'g'))),
      p -> p != '' AND len(str_split(p, ' ')) <= 4)) AS phrase
  FROM documents
),
w AS (
  SELECT phrase, len(str_split(phrase, ' ')) AS plen,
         unnest(str_split(phrase, ' ')) AS word
  FROM occ
),
stats AS (
  SELECT word,
         CAST(round(1e6 * CAST(sum(plen) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS w_micro
  FROM w GROUP BY 1
),
uniq AS (
  SELECT phrase, count(*) AS n_occ FROM occ GROUP BY 1
),
uw AS (
  SELECT u.phrase, u.n_occ, unnest(str_split(u.phrase, ' ')) AS word
  FROM uniq u
)
SELECT uw.phrase, CAST(max(uw.n_occ) AS BIGINT) AS n_occ,
       CAST(sum(s.w_micro) AS BIGINT) AS score_micro
FROM uw JOIN stats s USING (word)
GROUP BY 1
ORDER BY score_micro DESC, phrase ASC
LIMIT 30
"""


QUERIES_TEXT["rake_keywords"] = (q_rake_keywords, _rake_sql())


# ------------------------------------------------ n-gram novelty

def q_ngram_novelty(spark, sf_dir):
    """Crawl novelty curve: per crawl day (derived batch key), how
    many distinct 3-gram shingles appear that were never seen in any
    earlier day — the marginal-new-content metric that decides when
    recrawling a source stops paying. Two hash aggs over the shared
    shingle table (operators/dedup.py::ngram_shingles); novelty ratio
    in exact micro units. (ngram_shingles hashes the md5 HEX of the
    shingle — the oracle replays the double hash; a single-md5
    oracle differs only at birthday collisions, which is exactly
    the kind of sf0.1-only divergence the gate exists to catch.)"""
    from pyproj_spark.operators.dedup import ngram_shingles
    docs = _spread(_docs(spark, sf_dir))
    # day is a pure function of doc_id, so derive it from the shingle
    # rows directly instead of joining the docs frame back on doc_id —
    # that join shuffled every shingle row just to recover a value the
    # row already determines (guide §2.4: remove shuffles outright)
    # ONE evaluation of the tokenize+shingle+md5 pipeline instead of
    # two: the old shape fed the distinct shingle table into two
    # separate aggregations (first-day and per-day), each of which
    # recomputed the whole upstream chain. collect_set(day) per
    # shingle replaces the distinct + both aggs + the join — the
    # explode carries (day, first_day) so per-day totals and novelty
    # fall out of one tiny final agg. Same rows, same exact math.
    sh0 = (ngram_shingles(docs, n=3)
           .select((F.col("doc_id") % 10).cast("long").alias("day"),
                   "shingle_hash"))
    g = sh0.groupBy("shingle_hash").agg(
        F.collect_set("day").alias("days"))
    ex = g.select(F.array_min("days").alias("first_day"),
                  F.explode("days").alias("day"))
    return (ex.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("day") == F.col("first_day"), 1)
                       .otherwise(0)).cast("long").alias("n_novel"))
            .withColumn("novelty_micro",
                        F.round(F.lit(1e6) * F.col("n_novel")
                                / F.col("n_shingles")).cast("long")))


SQL_NGRAM_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, doc_id % 10 AS day,
         str_split({_NORM_SQL}, ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT day,
         CAST(('0x' || substr(md5(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
                              1, 8)) AS BIGINT) AS shingle_hash
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
),
first AS (
  SELECT shingle_hash, min(day) AS first_day FROM sh GROUP BY 1
),
per_day AS (
  SELECT day, count(*) AS n_shingles FROM sh GROUP BY 1
),
novel AS (
  SELECT first_day AS day, count(*) AS n_novel FROM first GROUP BY 1
)
SELECT p.day, CAST(p.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(round(1e6 * CAST(coalesce(n.n_novel, 0) AS DOUBLE)
                  / CAST(p.n_shingles AS DOUBLE)) AS BIGINT)
           AS novelty_micro
FROM per_day p LEFT JOIN novel n ON p.day = n.day
"""


QUERIES_TEXT["ngram_novelty"] = (q_ngram_novelty, SQL_NGRAM_NOVELTY)


# ------------------------------------------------ JL projection

def q_jl_project(spark, sf_dir):
    """JL ±1 projection of the embedding table to 16 components
    (operators/similarity.py::jl_project): exact integer-micro
    component sums; the oracle re-derives the identical sign matrix
    from the shared md5-parity literals and replays the quantized
    fold index-wise."""
    from pyproj_spark.operators.similarity import jl_project
    emb = _t(spark, sf_dir, "embeddings")
    return jl_project(emb, k=16, dim=64)


def _jl_sql() -> str:
    from pyproj_spark.operators.similarity import jl_sign_matrix
    signs = jl_sign_matrix(16, 64)
    rows = ", ".join(f"({i}, {j}, {s})"
                     for i, row in enumerate(signs)
                     for j, s in enumerate(row))
    return f"""
WITH m(comp, j, s) AS (VALUES {rows}),
e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT e.vec_id, m.comp,
       CAST(sum(CAST(round(CAST(e.v AS DOUBLE) * 1e6) AS BIGINT) * m.s)
            AS BIGINT) AS p_micro
FROM e JOIN m USING (j)
GROUP BY 1, 2
"""


QUERIES_TEXT["jl_project"] = (q_jl_project, _jl_sql())


# ------------------------------------------------ perceptual image hash

def q_image_dhash(spark, sf_dir):
    """Near-duplicate IMAGE dedup via dHash (operators/multimodal.py::
    image_dhash): real PNG bytes synthesized per doc (18x12, the
    image_resize pixel formulas), decoded through the REAL zlib
    inflate+unfilter path, then integer luma -> 9x8 nearest sample ->
    64 gradient bits; per-hash duplicate counts close the dedup loop.
    The oracle recomputes luma/sampling/bits arithmetically from the
    pixel formulas — hash equality gates the whole decode+hash chain."""
    from pyproj_spark.operators.multimodal import encode_png, image_dhash

    blobs = with_blobs(_spread(_docs(spark, sf_dir)),
                       lambda d: encode_png(rgb(d, 18, 12)))
    return image_dhash(blobs).select(
        F.col("url").cast("long").alias("doc_id"), "dhash",
        F.count(F.lit(1)).over(Window.partitionBy("dhash"))
        .alias("n_same"))


def _image_dhash_sql() -> str:
    # fully parenthesized: % must apply per channel before the
    # weighted sum
    def luma(xe, ye):
        return (f"(299 * ((({xe}) * 7 + doc_id) % 256)"
                f" + 587 * ((({ye}) * 13 + doc_id * 3) % 256)"
                f" + 114 * ((({xe}) + ({ye})) % 256)) // 1000"
                )
    return f"""
WITH grid AS (
  SELECT y, x, 2 * x AS x1, 2 * x + 2 AS x2, (3 * y) // 2 AS yy
  FROM unnest(generate_series(0, 7)) AS gy(y),
       unnest(generate_series(0, 7)) AS gx(x)
),
bits AS (
  SELECT doc_id, y, x,
         CASE WHEN {luma('x2', 'yy')} > {luma('x1', 'yy')}
              THEN '1' ELSE '0' END AS bit
  FROM documents, grid
),
h AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS dhash
  FROM bits GROUP BY 1
)
SELECT doc_id, dhash,
       CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
FROM h
"""


QUERIES_TEXT["image_dhash"] = (q_image_dhash, _image_dhash_sql())


# ------------------------------------------------ audio fingerprint

def q_audio_fp(spark, sf_dir):
    """Near-duplicate AUDIO dedup via energy-difference fingerprints
    (operators/multimodal.py::audio_fingerprint): real 16-bit WAV
    bytes synthesized per doc, decoded through the REAL RIFF/PCM
    path, framed at 16 samples, exact integer energies, one bit per
    energy rise. The oracle recomputes frames/energies/bits from the
    sample formula — the decode+hash chain gates end to end."""
    from pyproj_spark.operators.multimodal import audio_fingerprint

    blobs = with_blobs(_docs(spark, sf_dir), lambda d: sawtooth_wav(
        d, n=d % 120 + 64, step=53, mul=29, period=256))
    return audio_fingerprint(blobs).select(
        F.col("url").cast("long").alias("doc_id"), "n_frames", "fp")


SQL_AUDIO_FP = """
WITH d AS (
  SELECT doc_id, doc_id % 120 + 64 AS n FROM documents
),
samples AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i,
         ((unnest(generate_series(0, n - 1)) * 53 + doc_id * 29) % 256)
             - 128 AS s
  FROM d
),
fr AS (
  SELECT doc_id, i // 16 AS f, CAST(sum(s * s) AS BIGINT) AS e
  FROM samples WHERE i // 16 < n // 16
  GROUP BY 1, 2
),
b AS (
  SELECT doc_id, f,
         CASE WHEN e > lag(e) OVER (PARTITION BY doc_id ORDER BY f)
              THEN '1' ELSE '0' END AS bit
  FROM fr
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_frames,
       string_agg(bit, '' ORDER BY f) FILTER (WHERE f > 0) AS fp
FROM b GROUP BY 1
"""


QUERIES_TEXT["audio_fp"] = (q_audio_fp, SQL_AUDIO_FP)


# ------------------------------------------------ exact ROC-AUC

def q_quality_auc(spark, sf_dir):
    """Filter-evaluation metric: exact ROC-AUC of a quality score
    against a weak binary label per source, via the Mann-Whitney
    rank-sum identity with tie-averaged ranks. Doubled average ranks
    (2·avg = |score<s| + |score<=s| + 1) keep EVERYTHING integer
    until the single closing division; the per-source score
    distribution (bounded cardinality) is the only window input, so
    the corpus never sorts globally. The classifier being scored is
    the n_chars length signal against the lang=='en' label — the
    point is the gated metric machinery, not the toy model."""
    from pyspark.sql import Window as W_
    docs = _docs(spark, sf_dir).select(
        "source", F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("long").alias("pos"))
    dist = (docs.groupBy("source", "score")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("pos").alias("pos_cnt")))
    w = (W_.partitionBy("source").orderBy("score")
         .rowsBetween(W_.unboundedPreceding, -1))
    ranked = (dist
              .withColumn("lt", F.coalesce(F.sum("cnt").over(w),
                                           F.lit(0)))
              .withColumn("le", F.col("lt") + F.col("cnt")))
    agg = (ranked.groupBy("source")
           .agg(F.sum(F.col("pos_cnt")
                      * (F.col("lt") + F.col("le") + 1)).alias("r2"),
                F.sum("pos_cnt").alias("n_pos"),
                F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n_neg")))
    return (agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select("source", "n_pos", "n_neg",
                    F.round(F.lit(1e6)
                            * (F.col("r2")
                               - F.col("n_pos") * (F.col("n_pos") + 1))
                            / (2 * F.col("n_pos") * F.col("n_neg")))
                    .cast("long").alias("auc_micro")))


SQL_QUALITY_AUC = """
WITH d AS (
  SELECT source, n_chars AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
dist AS (
  SELECT source, score, count(*) AS cnt, sum(pos) AS pos_cnt
  FROM d GROUP BY 1, 2
),
ranked AS (
  SELECT source, score, cnt, pos_cnt,
         coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
  FROM dist
),
agg AS (
  SELECT source,
         CAST(sum(pos_cnt * (lt + lt + cnt + 1)) AS BIGINT) AS r2,
         CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
         CAST(sum(cnt - pos_cnt) AS BIGINT) AS n_neg
  FROM ranked GROUP BY 1
)
SELECT source, n_pos, n_neg,
       CAST(round(1e6 * CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(2 * n_pos * n_neg AS DOUBLE)) AS BIGINT)
           AS auc_micro
FROM agg WHERE n_pos > 0 AND n_neg > 0
"""


QUERIES_TEXT["quality_auc"] = (q_quality_auc, SQL_QUALITY_AUC)


# -- mime_sniff: magic-byte content-type routing ---------------------

_MIME_HEX = {
    0: "255044462D312E370A",            # %PDF-1.7\n
    1: "89504E470D0A1A0A49484452",      # PNG signature + IHDR
    2: "FFD8FFE145786966",              # JPEG SOI + APP1 'Exif'
    3: "474946383961",                  # GIF89a
    4: "524946462400000057415645",      # RIFF....WAVE
    5: "504B0304",                      # zip local-file header
    6: "1F8B08",                        # gzip deflate
    7: "20090D0A3C21444F43545950452048544D4C3E3C48544D4C3E",
    #  ^ whitespace-led mixed-case '<!DOCTYPE HTML><HTML>'
    8: "3C3F786D6C2076657273696F6E3D22312E30223F3E",   # <?xml ...?>
    9: "00010203FE",                    # junk -> octet-stream
}
_MIME_EXPECT = {
    0: "application/pdf", 1: "image/png", 2: "image/jpeg",
    3: "image/gif", 4: "audio/wav", 5: "application/zip",
    6: "application/gzip", 7: "text/html", 8: "text/xml",
    9: "application/octet-stream",
}


def q_mime_sniff(spark, sf_dir):
    """Magic-byte MIME sniffing over a synthesized binary body column
    (WHATWG-style routing every crawl ingest runs before trusting
    Content-Type). Payloads are REAL container prefixes — PNG/JPEG/
    GIF/RIFF-WAVE/zip/gzip/pdf plus whitespace-led mixed-case HTML and
    junk bytes — built natively with unhex, sniffed natively with a
    hex-prefix CASE: the whole query has zero Python stages
    (plan-locked). The oracle states the expected routing per class;
    adversarial byte cases are pytest-locked in test_mime.py."""
    from pyproj_spark.operators.multimodal import sniff_mime
    d = _docs(spark, sf_dir)
    hexcase = F.lit(None).cast("string")
    sel = F.col("doc_id") % 10
    for k, h in _MIME_HEX.items():
        hexcase = F.when(sel == k, F.lit(h)).otherwise(hexcase)
    body = F.concat(F.unhex(hexcase),
                    F.substring(F.col("text"), 1, 32).cast("binary"))
    sniffed = d.select("doc_id", sniff_mime(body).alias("mime"))
    return (sniffed.groupBy("mime")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


def _mime_sql():
    when = " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in _MIME_EXPECT.items())
    return f"""
SELECT CASE doc_id % 10 {when} END AS mime,
       count(*) AS n_docs, min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM documents GROUP BY 1
"""


QUERIES_TEXT["mime_sniff"] = (q_mime_sniff, _mime_sql())


# -- surt_dedup: SURT canonical-key page collapse --------------------

def q_surt_dedup(spark, sf_dir):
    """SURT-key crawl collapse: three synthesized per-page URL variants
    (mixed-case scheme/host + default port + fragment; ``/./`` dot
    segment; ``/x/../`` up-reference) that only become the SAME page
    identity after full RFC 3986 dot-segment resolution + query-param
    sorting + host reversal (functions/web.py surt_key — all native
    regex/array ops, zero Python). Grouping by the key recovers the
    true page and counts how many surface forms it had; the oracle
    states the expected key arithmetically per (site, page) class and
    counts variants via the synthesis rule. Adversarial RFC cases
    (root overflow, trailing ``..``, deep chains) are pytest-locked in
    test_surt.py."""
    from pyproj_spark.functions.web import surt_key
    d = F.col("doc_id")
    s = (d % 23).cast("string")
    pg = (d % 7).cast("string")
    v = d % 3
    url = F.when(v == 0, F.concat(
        F.lit("http://sub.site"), s, F.lit(".com/a/c"), pg,
        F.lit("/index.html?b=2&a=1"))
    ).when(v == 1, F.concat(
        F.lit("HTTP://SUB.Site"), s, F.lit(".COM:80/a/./c"), pg,
        F.lit("/index.html?a=1&b=2#x"))
    ).otherwise(F.concat(
        F.lit("http://sub.site"), s, F.lit(".com/a/x/../c"), pg,
        F.lit("/./index.html?b=2&a=1")))
    docs = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    keyed = docs.select("doc_id", "url",
                        surt_key(F.col("url")).alias("surt"))
    return (keyed.groupBy("surt")
            .agg(F.count("*").alias("n_fetches"),
                 F.countDistinct("url").alias("n_variants"),
                 F.min("doc_id").alias("first_doc")))


SQL_SURT_DEDUP = """
SELECT 'com,site' || CAST(doc_id % 23 AS VARCHAR) || ',sub)/a/c'
       || CAST(doc_id % 7 AS VARCHAR) || '/index.html?a=1&b=2' AS surt,
       count(*) AS n_fetches,
       count(DISTINCT doc_id % 3) AS n_variants,
       min(doc_id) AS first_doc
FROM documents GROUP BY 1
"""


QUERIES_TEXT["surt_dedup"] = (q_surt_dedup, SQL_SURT_DEDUP)


# -- mojibake: corrupt-decode artifact scoring -----------------------

#: planted artifacts, built from escapes so each class's true count is
#: known arithmetically: class 0 = three 2-byte double-encodes
#: (Caf\xc3\xa9 d\xc3\xa9j\xc3\xa0), class 1 = two 3-byte punctuation
#: double-encodes (don’t + left quote through CP1252), class 2 =
#: two U+FFFD replacement chars, class 3 = clean
_MOJI_PLANT = {
    0: " CafÃ© dÃ©jÃ  vu",
    1: " donâ€™t â€œquote",
    2: " bad�decode�",
    3: "",
}


def q_mojibake(spark, sf_dir):
    """Corrupt-decode scoring — the crawl-cleaning pass that catches
    UTF-8 text that went through a CP1252/Latin-1 misdecode ('Ã©' for
    'é', 'â€™' for a right quote) or lossy decode (U+FFFD). Artifacts
    are planted per class with known counts; mojibake_stats counts
    them back with one native lookaround-free regexp (zero Python,
    plan analogous to mime_sniff), and the per-lang rollup reports
    docs flagged + artifact totals. The oracle states the planted
    arithmetic; adversarial strings (clean accented French, genuine
    CP1252 punctuation) are pytest-locked so the regex can't just
    match all non-ASCII."""
    from pyproj_spark.operators.textstats import mojibake_stats
    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 4
    plant = F.lit(None).cast("string")
    for k, v in _MOJI_PLANT.items():
        plant = F.when(m == k, F.lit(v)).otherwise(plant)
    scored = d.select(
        "doc_id", "lang",
        mojibake_stats(F.concat(F.col("text"), plant)).alias("s"))
    return (scored.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("s.n_moji").alias("total_moji"),
                 F.sum("s.n_repl").alias("total_repl"),
                 F.sum(F.when((F.col("s.n_moji") > 0)
                              | (F.col("s.n_repl") > 0), 1)
                       .otherwise(0)).alias("n_flagged")))


SQL_MOJIBAKE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 0 END)
            AS BIGINT) AS total_moji,
       CAST(sum(CASE doc_id % 4 WHEN 2 THEN 2 ELSE 0 END) AS BIGINT)
           AS total_repl,
       CAST(sum(CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM documents GROUP BY lang
"""


QUERIES_TEXT["mojibake"] = (q_mojibake, SQL_MOJIBAKE)


# -- hreflang_cluster: multilingual translation-cluster grouping -----

_HREFLANG_LANGS = ("en", "de", "fr")


def q_hreflang_cluster(spark, sf_dir):
    """Translation-cluster assembly from hreflang alternate links —
    the multilingual-balancing unit of a corpus pipeline (keep one
    page per cluster+language instead of N mirrors). Each synthesized
    page declares alternates for all three language variants of its
    group plus x-default; hreflang_links extracts the tag pairs
    natively, the x-default href becomes the cluster key, and the
    rollup reports pages per cluster, languages actually present
    (from the pages' own URLs), and declared alternates. Aggregation
    shuffles once on the cluster key; the extraction never leaves the
    row. The oracle replays the group arithmetic including the
    distinct-language set."""
    from pyproj_spark.functions.web import hreflang_links
    d = F.col("doc_id")
    g = (d % 151).cast("string")
    v = d % 3
    lang = (F.when(v == 0, _HREFLANG_LANGS[0])
            .when(v == 1, _HREFLANG_LANGS[1])
            .otherwise(_HREFLANG_LANGS[2]))
    base = F.concat(F.lit("https://ex.com/"), lang, F.lit("/p"), g)
    alts = [F.concat(F.lit(f'<link rel="alternate" hreflang="{lg}" '
                           f'href="https://ex.com/{lg}/p'), g,
                     F.lit('">'))
            for lg in _HREFLANG_LANGS]
    xdef = F.concat(
        F.lit('<link rel="alternate" hreflang="x-default" '
              'href="https://ex.com/en/p'), g, F.lit('">'))
    html = F.concat(F.lit("<html><head>"), *alts, xdef,
                    F.lit("</head><body>t</body></html>"))
    docs = _docs(spark, sf_dir).select(
        "doc_id", base.alias("url"), html.alias("html"),
        lang.alias("page_lang"))
    links = docs.withColumn("links", hreflang_links(F.col("html")))
    cluster = F.element_at(
        F.filter(F.col("links"),
                 lambda e: e["hreflang"] == F.lit("x-default")),
        1)["href"]
    keyed = links.select(
        "doc_id", "url", "page_lang", cluster.alias("cluster"),
        F.size(F.filter(F.col("links"),
                        lambda e: e["hreflang"] != F.lit("x-default")))
        .alias("n_declared"))
    return (keyed.groupBy("cluster")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("url").alias("n_urls"),
                 F.array_join(F.array_sort(F.collect_set("page_lang")),
                              ",").alias("langs_present"),
                 F.max("n_declared").alias("n_declared")))


SQL_HREFLANG = """
WITH v AS (
  SELECT doc_id, doc_id % 151 AS g,
         CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
              ELSE 'fr' END AS lang
  FROM documents
)
SELECT 'https://ex.com/en/p' || CAST(g AS VARCHAR) AS cluster,
       count(*) AS n_pages,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_urls,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs_present,
       CAST(3 AS INTEGER) AS n_declared
FROM v GROUP BY g
"""


QUERIES_TEXT["hreflang_cluster"] = (q_hreflang_cluster, SQL_HREFLANG)


def q_posting_lists(spark, sf_dir):
    """Inverted-index construction with delta (d-gap) encoded posting
    lists — the core IR build step (reference has no analogue; this is
    graft surface for the search side of a crawl pipeline). One
    distinct + one token-keyed aggregation: postings for SELECTIVE
    terms (df <= cap) are materialized as sorted doc-id gap strings —
    the standard compressed-index layout — while hot terms past the
    cap keep exact df but a '<sharded>' marker instead of a
    collect_list that would OOM one reducer at corpus scale (the same
    hot-key policy as dedup.py band_cap). Gap encoding is exact
    integer arithmetic, so the DuckDB replay gates it value-for-value."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
        )).alias("token"))
    post = toks.distinct()
    cap = 64
    agg = (post.groupBy("token")
           .agg(F.count(F.lit(1)).alias("df"),
                F.min("doc_id").alias("first_doc"),
                F.max("doc_id").alias("last_doc"),
                F.sort_array(F.collect_list("doc_id")).alias("ids")))
    gaps = F.expr(
        "array_join(transform(ids, (x, i) -> "
        "CAST(IF(i = 0, x, x - ids[i-1]) AS STRING)), ',')")
    return (agg.filter(F.col("df") >= 5)
            .select("token", "df", "first_doc", "last_doc",
                    F.when(F.col("df") <= cap, gaps)
                    .otherwise(F.lit("<sharded>")).alias("postings")))


SQL_POSTING_LISTS = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
gapped AS (
  SELECT token, doc_id,
         doc_id - coalesce(lag(doc_id) OVER (PARTITION BY token
                                             ORDER BY doc_id),
                           0) AS gap
  FROM toks
),
agg AS (
  SELECT token, count(*) AS df,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         string_agg(CAST(gap AS VARCHAR), ',' ORDER BY doc_id)
           AS gap_str
  FROM gapped GROUP BY token
)
SELECT token, df, first_doc, last_doc,
       CASE WHEN df <= 64 THEN gap_str ELSE '<sharded>' END AS postings
FROM agg WHERE df >= 5
"""

QUERIES_TEXT["posting_lists"] = (q_posting_lists, SQL_POSTING_LISTS)


def q_url_templates(spark, sf_dir):
    """URL path-template mining: collapse digit runs to a '{n}'
    placeholder and aggregate per (host, template) — the standard
    crawl-frontier heuristic for spotting calendar traps, paginated
    listings, and parametric duplicates before fetching them (used by
    every large crawler's URL-dedup stage). Pure native Catalyst
    string ops; the synthesized URL population mixes four path shapes
    with embedded numeric ids so templates genuinely collide. DuckDB
    re-derives the same templates with ITS regex engine, gating both
    the synthesis and the collapse."""
    d = F.col("doc_id")
    path = (F.when(d % 4 == 0,
                   F.concat(F.lit("/product/"), (d * 17 % 1000)
                            .cast("string")))
            .when(d % 4 == 1,
                  F.concat(F.lit("/article/20"),
                           (d % 22 + 1).cast("string"),
                           F.lit("/"), (d % 12 + 1).cast("string"),
                           F.lit("/post-"), d.cast("string")))
            .when(d % 4 == 2,
                  F.concat(F.lit("/user/"), (d % 97).cast("string"),
                           F.lit("/profile")))
            .otherwise(F.lit("/about/contact")))
    host = F.concat(F.lit("site"), (d % 23).cast("string"),
                    F.lit(".example.com"))
    urls = _docs(spark, sf_dir).select(
        "doc_id", host.alias("host"), path.alias("path"))
    tmpl = F.regexp_replace(F.col("path"), "[0-9]+", "{n}")
    return (urls.withColumn("template", tmpl)
            .groupBy("host", "template")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct("path").alias("n_distinct_paths"),
                 F.min("path").alias("sample_path"))
            .filter(F.col("n_urls") >= 2))


SQL_URL_TEMPLATES = """
WITH urls AS (
  SELECT doc_id,
         'site' || CAST(doc_id % 23 AS VARCHAR) || '.example.com'
           AS host,
         CASE
           WHEN doc_id % 4 = 0 THEN
             '/product/' || CAST(doc_id * 17 % 1000 AS VARCHAR)
           WHEN doc_id % 4 = 1 THEN
             '/article/20' || CAST(doc_id % 22 + 1 AS VARCHAR)
             || '/' || CAST(doc_id % 12 + 1 AS VARCHAR)
             || '/post-' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 4 = 2 THEN
             '/user/' || CAST(doc_id % 97 AS VARCHAR) || '/profile'
           ELSE '/about/contact'
         END AS path
  FROM documents
)
SELECT host, regexp_replace(path, '[0-9]+', '{n}', 'g') AS template,
       count(*) AS n_urls,
       CAST(count(DISTINCT path) AS BIGINT) AS n_distinct_paths,
       min(path) AS sample_path
FROM urls GROUP BY 1, 2 HAVING count(*) >= 2
"""

QUERIES_TEXT["url_templates"] = (q_url_templates, SQL_URL_TEMPLATES)


def q_textrank(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph — the graph-based
    complement to the statistical RAKE/TF-IDF extractors already
    gated. Bounded the scale-safe way: only the top-30 corpus
    vocabulary participates (one agg + TakeOrdered), adjacency edges
    come from consecutive vocab tokens via an array HOF (never a
    token self-join), and the <= C(30,2)-row edge table is collected
    for a driver-side iteration loop with the SAME integer-unit
    HALF_UP arithmetic as operators/pagerank.py, so the DuckDB oracle
    replays the 3 unrolled damped iterations bit-for-bit. At corpus
    scale the vocab cap is the knob; the distributed part is one
    tokenize + one groupBy."""
    docs = _docs(spark, sf_dir)
    arr = F.expr("filter(split(lower(text), '[^a-z0-9]+'), "
                 "x -> x <> '')")
    toks = docs.select("doc_id", arr.alias("tk"))
    vocab = [r.token for r in
             (toks.select(F.explode("tk").alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
              .orderBy(F.col("c").desc(), "token").limit(30)
              .collect())]
    vlit = F.array(*[F.lit(v) for v in vocab])
    ff = F.filter(F.col("tk"), lambda t: F.array_contains(vlit, t))
    # consecutive pairs via zip_with over two slices of a MATERIALIZED
    # ff column — element_at(ff, i) inside a transform lambda would
    # re-evaluate the whole vocab filter per access (the O(tokens^2)
    # HOF-inlining trap measured at 26 s/sf0.1; zip_with is 1.5 s)
    fft = toks.select(ff.alias("ff"))
    n1 = F.greatest(F.size(F.col("ff")) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("ff"), F.lit(1), n1),
        F.slice(F.col("ff"), F.lit(2), n1),
        lambda a, b: F.struct(F.least(a, b).alias("w1"),
                              F.greatest(a, b).alias("w2")))
    edges = (fft.select(F.explode(pairs).alias("p"))
             .filter(F.col("p.w1") != F.col("p.w2"))
             .groupBy(F.col("p.w1").alias("w1"),
                      F.col("p.w2").alias("w2"))
             .agg(F.count(F.lit(1)).alias("w")))
    rows = edges.collect()  # bounded: <= C(vocab_cap, 2) rows
    import numpy as np
    nodes = sorted({r.w1 for r in rows} | {r.w2 for r in rows})
    idx = {t: i for i, t in enumerate(nodes)}
    n = len(nodes)
    wmat = np.zeros((n, n), dtype=np.int64)
    for r in rows:
        wmat[idx[r.w1], idx[r.w2]] += r.w
        wmat[idx[r.w2], idx[r.w1]] += r.w
    wdeg = wmat.sum(axis=1)

    def rnd(x, p):  # HALF_UP for non-negative, = F.round / DuckDB round
        s = 10.0 ** p
        return np.floor(x * s + 0.5) / s

    rank = np.ones(n, dtype=np.float64)
    for _ in range(3):
        contrib = np.zeros(n, dtype=np.int64)
        for u in range(n):
            if wdeg[u] == 0:
                continue
            cu = np.floor((wmat[u] / float(wdeg[u])) * rank[u] * 1e12
                          + 0.5).astype(np.int64)
            contrib += cu
        rank = rnd(0.15 + 0.85 * (contrib.astype(np.float64) / 1e12), 9)
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    out = [(t, int(wdeg[idx[t]]), float(rank[idx[t]])) for t in nodes]
    return spark.createDataFrame(
        out, StructType([StructField("token", StringType()),
                         StructField("wdeg", LongType()),
                         StructField("rank", DoubleType())]))


def _textrank_sql():
    it = """
r{o} AS (
  SELECT n.token,
         round(0.15 + 0.85 * (coalesce(
           (SELECT sum(CAST(round(s.w / wd.wdeg * r.rank * 1e12)
                            AS BIGINT))
            FROM sym s
            JOIN r{i} r ON s.src = r.token
            JOIN wdeg wd ON wd.token = s.src
            WHERE s.dst = n.token AND wd.wdeg > 0),
           0) / 1e12), 9) AS rank
  FROM nodes n
)"""
    its = ",".join(it.format(i=k, o=k + 1) for k in range(3))
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT unnest(tk) AS token FROM toks) GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 30
),
ptoks AS (
  SELECT doc_id, u.token AS token, u.pos AS pos
  FROM (SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(tk)),
                 i -> struct_pack(token := tk[i], pos := i))) AS u
        FROM toks)
  WHERE u.token IN (SELECT token FROM vocab)
),
ftoks AS (
  SELECT doc_id, list(token ORDER BY pos) AS ff
  FROM ptoks GROUP BY doc_id
),
adj AS (
  SELECT unnest(list_transform(
           generate_series(1, len(ff) - 1),
           i -> struct_pack(w1 := least(ff[i], ff[i + 1]),
                            w2 := greatest(ff[i], ff[i + 1])))) AS p
  FROM ftoks
),
edges AS (
  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS w
  FROM adj WHERE p.w1 <> p.w2 GROUP BY 1, 2
),
sym AS (
  SELECT w1 AS src, w2 AS dst, w FROM edges
  UNION ALL
  SELECT w2 AS src, w1 AS dst, w FROM edges
),
nodes AS (SELECT DISTINCT src AS token FROM sym),
wdeg AS (SELECT src AS token, sum(w) AS wdeg FROM sym GROUP BY 1),
r0 AS (SELECT token, 1.0 AS rank FROM nodes),
{its}
SELECT n.token, CAST(w.wdeg AS BIGINT) AS wdeg, r.rank
FROM nodes n JOIN wdeg w ON w.token = n.token
JOIN r3 r ON r.token = n.token
"""


QUERIES_TEXT["textrank"] = (q_textrank, _textrank_sql())


def q_fetch_budget(spark, sf_dir):
    """Max-min-fair (water-filling) crawl budget allocation across
    hosts: given per-host page demands and a global fetch budget B
    (half the total demand here), find the water level c with
    sum(min(d_i, c)) = B and allocate min(d_i, c) per host — the
    classic politeness-aware scheduler step after crawl_schedule's
    per-host pacing. Scale shape: the level search runs on the DEMAND
    HISTOGRAM (distinct demand values, bounded by max page count per
    host), never on the raw host table — one groupBy to the
    histogram, a window over the tiny histogram, a 1-row broadcast of
    the level back onto hosts. Exact integer prefix sums; the level
    itself is the only double and both engines derive it from the
    same integers, so DuckDB gates the allocation value-for-value."""
    from pyspark.sql import Window
    d = F.col("doc_id")
    hosts = (_docs(spark, sf_dir)
             .select(F.concat(F.lit("site"), (d % 23).cast("string"))
                     .alias("host"))
             .groupBy("host").agg(F.count(F.lit(1)).alias("demand")))
    hist = (hosts.groupBy("demand")
            .agg(F.count(F.lit(1)).alias("n_hosts")))
    w = Window.orderBy("demand")
    tot = (hist.agg(
        F.sum(F.col("demand") * F.col("n_hosts")).alias("total"),
        F.sum("n_hosts").alias("n")).collect()[0])
    budget = tot.total // 2
    lev = (hist.withColumn(
        "p_hosts", F.sum("n_hosts").over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("p_dem", F.sum(F.col("demand") * F.col("n_hosts"))
                    .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .select(
            "demand",
            ((F.lit(float(budget))
              - F.coalesce("p_dem", F.lit(0)).cast("double"))
             / (F.lit(int(tot.n))
                - F.coalesce("p_hosts", F.lit(0))).cast("double"))
            .alias("cand"))
        .filter(F.col("cand") < F.col("demand"))
        .orderBy("demand").limit(1))
    row = lev.collect()
    c = row[0].cand if row else None  # None: budget covers all demand
    alloc = (F.least(F.col("demand").cast("double"), F.lit(c))
             if c is not None else F.col("demand").cast("double"))
    return (hosts.select("host", "demand",
                         F.round(alloc, 6).alias("alloc"),
                         F.lit(int(budget)).alias("budget")))


SQL_FETCH_BUDGET = """
WITH hosts AS (
  SELECT 'site' || CAST(doc_id % 23 AS VARCHAR) AS host,
         count(*) AS demand
  FROM documents GROUP BY 1
),
hist AS (SELECT demand, count(*) AS n_hosts FROM hosts GROUP BY 1),
tot AS (
  SELECT sum(demand * n_hosts) AS total, sum(n_hosts) AS n FROM hist
),
lev AS (
  SELECT demand,
         (CAST(tot.total // 2 AS DOUBLE)
          - CAST(coalesce(sum(demand * n_hosts) OVER (
              ORDER BY demand ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS DOUBLE))
         / CAST(tot.n - coalesce(sum(n_hosts) OVER (
             ORDER BY demand ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS DOUBLE) AS cand
  FROM hist CROSS JOIN tot
),
c AS (
  SELECT min(cand) FILTER (WHERE cand < demand) IS NOT NULL AS capped,
         coalesce((SELECT cand FROM lev WHERE cand < demand
                   ORDER BY demand LIMIT 1), 0) AS level
  FROM lev
)
SELECT h.host, h.demand,
       round(CASE WHEN c.capped
             THEN least(CAST(h.demand AS DOUBLE), c.level)
             ELSE CAST(h.demand AS DOUBLE) END, 6) AS alloc,
       CAST(tot.total // 2 AS BIGINT) AS budget
FROM hosts h CROSS JOIN c CROSS JOIN tot
"""

QUERIES_TEXT["fetch_budget"] = (q_fetch_budget, SQL_FETCH_BUDGET)


def q_link_reciprocity(spark, sf_dir):
    """Host-level link reciprocity — the classic webspam / link-farm
    signal (organic linking is asymmetric; exchange schemes are
    mutual). Distinct host edges derive from doc_id arithmetic, then
    ONE self-equi-join on the reversed key (dst, src) marks mutual
    pairs: per host, out-degree, mutual count, reciprocity ratio.
    The join is key-to-key (never all-pairs) and the edge table is
    already host-aggregated, so the shape survives a trillion-page
    graph; skewed hub hosts hit the same salted-agg machinery as
    every other host-keyed rollup here."""
    d = F.col("doc_id")
    edges = (_docs(spark, sf_dir)
             .select((d % 53).alias("src"),
                     ((d * 7 + 3) % 53).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    rev = edges.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"),
                       F.lit(1).alias("mutual"))
    marked = edges.join(rev, ["src", "dst"], "left")
    return (marked.groupBy("src")
            .agg(F.count(F.lit(1)).alias("out_deg"),
                 F.sum(F.coalesce("mutual", F.lit(0))).alias("n_mutual"))
            .select(F.col("src").alias("host"), "out_deg", "n_mutual",
                    F.round(F.col("n_mutual")
                            / F.col("out_deg").cast("double"), 6)
                    .alias("reciprocity")))


SQL_LINK_RECIPROCITY = """
WITH edges AS (
  SELECT DISTINCT doc_id % 53 AS src, (doc_id * 7 + 3) % 53 AS dst
  FROM documents WHERE doc_id % 53 <> (doc_id * 7 + 3) % 53
),
marked AS (
  SELECT e.src, e.dst,
         CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
  FROM edges e LEFT JOIN edges r
    ON r.src = e.dst AND r.dst = e.src
)
SELECT src AS host, count(*) AS out_deg,
       CAST(sum(mutual) AS BIGINT) AS n_mutual,
       round(sum(mutual) / CAST(count(*) AS DOUBLE), 6) AS reciprocity
FROM marked GROUP BY src
"""

QUERIES_TEXT["link_reciprocity"] = (q_link_reciprocity,
                                    SQL_LINK_RECIPROCITY)


def q_bib_coupling(spark, sf_dir):
    """Bibliographic coupling over a host link graph (Kessler 1963 —
    the out-link transpose of co-citation, already gated as
    `cocitation`): two SOURCE hosts are coupled when they cite the
    same destination; strength is Jaccard over their out-link sets.
    Scale shape: pair candidates come from per-DESTINATION sorted src
    arrays expanded with array HOFs under an in-degree cap (<= 60) —
    popular destinations are excluded instead of exploding
    quadratically (the LSH hot-band guard class). A DIFFERENT edge
    fixture than cocitation (83-host sources, 211 destinations, two
    outlinks per doc) so the two measures gate independent graphs.
    Counts are exact ints; Jaccard divides exact ints once."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    dsts = F.array(s((i * 17 + 3) % 211), s((i * 31 + 7) % 211))
    edges = (d.select(F.concat(F.lit("s"), s(i % 83)).alias("src"),
                      F.explode(dsts).alias("dn"))
             .select("src", F.concat(F.lit("d"), F.col("dn")).alias("dst"))
             .distinct())
    grp = (edges.groupBy("dst")
           .agg(F.sort_array(F.collect_set("src")).alias("ss"))
           .filter((F.size("ss") >= 2) & (F.size("ss") <= 60)))
    pairs = grp.select(F.explode(F.flatten(F.transform(
        F.sequence(F.lit(0), F.size("ss") - 2),
        lambda j: F.transform(
            F.slice(F.col("ss"), j + 2, F.size("ss")),
            lambda m: F.struct(
                F.element_at(F.col("ss"), (j + 1).cast("int"))
                .alias("src_a"),
                m.alias("src_b")))))).alias("p")).select("p.*")
    shared = (pairs.groupBy("src_a", "src_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out = (shared
           .join(outd.select(F.col("src").alias("src_a"),
                             F.col("deg").alias("da")), "src_a")
           .join(outd.select(F.col("src").alias("src_b"),
                             F.col("deg").alias("db")), "src_b")
           .filter(F.col("n_shared") >= 2))
    jac = (F.col("n_shared").cast("double")
           / (F.col("da") + F.col("db") - F.col("n_shared"))
           .cast("double"))
    return out.select("src_a", "src_b", "n_shared",
                      jac.alias("coupling_jaccard"))


SQL_BIB_COUPLING = """
WITH e AS (
  SELECT DISTINCT 's' || CAST(doc_id % 83 AS VARCHAR) AS src,
         'd' || CAST(d AS VARCHAR) AS dst
  FROM documents,
       UNNEST([(doc_id * 17 + 3) % 211,
               (doc_id * 31 + 7) % 211]) AS u(d)
),
ok AS (SELECT dst FROM e GROUP BY dst
       HAVING count(*) BETWEEN 2 AND 60),
p AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  JOIN ok ON ok.dst = a.dst
  GROUP BY 1, 2
),
outd AS (SELECT src, count(*) AS deg FROM e GROUP BY 1)
SELECT src_a, src_b, n_shared,
       CAST(n_shared AS DOUBLE)
         / CAST(da.deg + db.deg - n_shared AS DOUBLE)
         AS coupling_jaccard
FROM p
JOIN outd da ON da.src = p.src_a
JOIN outd db ON db.src = p.src_b
WHERE n_shared >= 2
"""

QUERIES_TEXT["bib_coupling"] = (q_bib_coupling, SQL_BIB_COUPLING)


def q_jsonld_extract(spark, sf_dir):
    """schema.org JSON-LD structured-data extraction (the WAT-plus
    layer every knowledge-graph crawl builds): pages carry a
    deterministic <script type="application/ld+json"> block — Article
    on two of three pages, Product (with integer-cents price) on the
    third — pulled with one non-greedy regexp group (Java regex and
    RE2 agree on lazy quantifiers) and fielded with the engines' OWN
    JSON parsers (get_json_object vs json_extract_string), so the
    gate crosses two independent JSON implementations. Pure per-row
    Catalyst: zero exchanges before the projection."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    art = F.concat(
        F.lit('{"@type":"Article","headline":"Doc '), s(i),
        F.lit('","author":{"name":"author-'), s(i % 7),
        F.lit('"},"wordCount":'), s(i % 900 + 100), F.lit("}"))
    prod = F.concat(
        F.lit('{"@type":"Product","name":"SKU-'), s(i),
        F.lit('","offers":{"price":'), s((i * 37) % 9000 + 99),
        F.lit(',"priceCurrency":"USD"}}'))
    block = F.when(i % 3 == 0, prod).otherwise(art)
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'),
        block, F.lit("</script></head><body>x</body></html>"))
    pages = d.select("doc_id", html.alias("html"))
    ld_re = r'<script type="application/ld\+json">(.*?)</script>'
    j = F.regexp_extract("html", ld_re, 1)
    return pages.select(
        "doc_id",
        F.get_json_object(j, "$['@type']").alias("schema_type"),
        F.coalesce(F.get_json_object(j, "$.headline"),
                   F.get_json_object(j, "$.name")).alias("title"),
        F.get_json_object(j, "$.author.name").alias("author"),
        F.get_json_object(j, "$.offers.price").cast("long")
        .alias("price_cents"),
        F.get_json_object(j, "$.wordCount").cast("long")
        .alias("word_count"))


SQL_JSONLD = r"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><script type="application/ld+json">'
         || CASE WHEN doc_id % 3 = 0 THEN
              '{"@type":"Product","name":"SKU-'
              || CAST(doc_id AS VARCHAR)
              || '","offers":{"price":'
              || CAST((doc_id * 37) % 9000 + 99 AS VARCHAR)
              || ',"priceCurrency":"USD"}}'
            ELSE
              '{"@type":"Article","headline":"Doc '
              || CAST(doc_id AS VARCHAR)
              || '","author":{"name":"author-'
              || CAST(doc_id % 7 AS VARCHAR) || '"},"wordCount":'
              || CAST(doc_id % 900 + 100 AS VARCHAR) || '}'
            END
         || '</script></head><body>x</body></html>' AS html
  FROM documents
),
j AS (
  SELECT doc_id,
         regexp_extract(html,
           '<script type="application/ld\+json">(.*?)</script>', 1)
             AS ld
  FROM pages
)
SELECT doc_id,
       json_extract_string(ld, '$."@type"') AS schema_type,
       coalesce(json_extract_string(ld, '$.headline'),
                json_extract_string(ld, '$.name')) AS title,
       json_extract_string(ld, '$.author.name') AS author,
       CAST(json_extract_string(ld, '$.offers.price') AS BIGINT)
           AS price_cents,
       CAST(json_extract_string(ld, '$.wordCount') AS BIGINT)
           AS word_count
FROM j
"""

QUERIES_TEXT["jsonld_extract"] = (q_jsonld_extract, SQL_JSONLD)


def q_meta_robots(spark, sf_dir):
    """Per-page robots directives (the <meta name=robots> /
    X-Robots-Tag layer that robots.txt — already gated as
    `robots_filter` — cannot express): pages deterministically carry
    a meta robots tag (noindex,nofollow on 1-in-5, noindex on
    1-in-7) and 1-in-11 responses add an X-Robots-Tag header;
    indexability = NO noindex in EITHER channel (RFC 9309bis
    most-restrictive-wins), and the crawl keeps follow semantics
    separately. One regexp pass per channel, pure Catalyst booleans,
    then a per-source rollup — the two-level gate every indexer
    implements."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    meta = (F.when(i % 5 == 0,
                   F.lit('<meta name="robots" content="noindex, '
                         'nofollow">'))
            .when(i % 7 == 0,
                  F.lit('<meta name="robots" content="noindex">'))
            .otherwise(F.lit("")))
    html = F.concat(F.lit("<html><head>"), meta,
                    F.lit("</head><body>x</body></html>"))
    hdr = F.when(i % 11 == 0, F.lit("X-Robots-Tag: nofollow")) \
        .otherwise(F.lit(""))
    pages = d.select("doc_id", "source", html.alias("html"),
                     hdr.alias("headers"))
    content = F.regexp_extract(
        "html", r'<meta name="robots" content="([^"]*)">', 1)
    meta_noindex = content.contains("noindex")
    meta_nofollow = content.contains("nofollow")
    hdr_nofollow = F.col("headers").contains("nofollow")
    flags = pages.select(
        "doc_id", "source",
        (~meta_noindex).alias("indexable"),
        (~(meta_nofollow | hdr_nofollow)).alias("followable"))
    roll = (flags.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.col("indexable").cast("long"))
                 .alias("n_indexable"),
                 F.sum(F.col("followable").cast("long"))
                 .alias("n_followable")))
    return roll


SQL_META_ROBOTS = """
WITH pages AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN 'noindex, nofollow'
              WHEN doc_id % 7 = 0 THEN 'noindex'
              ELSE '' END AS content,
         CASE WHEN doc_id % 11 = 0 THEN 'X-Robots-Tag: nofollow'
              ELSE '' END AS headers
  FROM documents
)
SELECT source, count(*) AS n_pages,
       CAST(sum(CASE WHEN content LIKE '%noindex%' THEN 0 ELSE 1 END)
            AS BIGINT) AS n_indexable,
       CAST(sum(CASE WHEN content LIKE '%nofollow%'
                       OR headers LIKE '%nofollow%' THEN 0 ELSE 1 END)
            AS BIGINT) AS n_followable
FROM pages GROUP BY source
"""

QUERIES_TEXT["meta_robots"] = (q_meta_robots, SQL_META_ROBOTS)


def q_feed_parse(spark, sf_dir):
    """RSS 2.0 / Atom 1.0 feed ingestion in ONE parser pass (the
    sibling of `sitemap_parse` for the feed-discovery side of a
    crawler): even-id sources publish RSS <item> entries, odd-id
    sources publish Atom <entry> entries; both vocabularies are
    pulled with one alternation-group regexp_extract_all per field
    (title, link-as-text vs link-as-href, pubDate vs updated) and the
    zipped arrays explode into one normalized (host, title, url, day)
    entry table. Per-host rollup keeps exact integer sums only.
    Scale shape: per-feed parsing is a row-local array pipeline —
    no shuffle until the final rollup."""
    d = F.col("doc_id")
    h = F.col("host_id")
    item = F.when(
        h % 2 == 0,
        F.concat(F.lit("<item><title>T"), d.cast("string"),
                 F.lit("</title><link>https://h"), h.cast("string"),
                 F.lit("/p/"), d.cast("string"),
                 F.lit("</link><pubDate>day-"),
                 (d % 28).cast("string"),
                 F.lit("</pubDate></item>"))).otherwise(
        F.concat(F.lit('<entry><title>T'), d.cast("string"),
                 F.lit('</title><link href="https://h'),
                 h.cast("string"), F.lit("/p/"), d.cast("string"),
                 F.lit('"/><updated>day-'), (d % 28).cast("string"),
                 F.lit("</updated></entry>")))
    feeds = (_docs(spark, sf_dir)
             .select(d.alias("doc_id"), (d % 37).alias("host_id"))
             .select("doc_id", "host_id", item.alias("e"))
             .groupBy("host_id")
             .agg(F.array_join(F.transform(
                 F.array_sort(F.collect_list(F.struct("doc_id", "e"))),
                 lambda s: s["e"]), "").alias("xml")))
    titles = F.expr(
        r"regexp_extract_all(xml, '<title>([^<]*)</title>', 1)")
    links = F.expr(
        "regexp_extract_all(xml, "
        r"'<link>([^<]*)</link>|<link href=\"([^\"]*)\"/>', 0)")
    days = F.expr(
        "regexp_extract_all(xml, "
        "'<pubDate>day-([0-9]+)</pubDate>|<updated>day-([0-9]+)"
        "</updated>', 0)")
    ent = (feeds.select(
        "host_id",
        F.explode(F.zip_with(
            titles, F.zip_with(links, days,
                               lambda l, dd: F.struct(
                                   l.alias("l"), dd.alias("dd"))),
            lambda t, ld: F.struct(t.alias("title"),
                                   ld["l"].alias("l"),
                                   ld["dd"].alias("dd"))))
        .alias("x"))
        .select("host_id",
                F.col("x.title").alias("title"),
                F.regexp_extract("x.l", r'(https://[^<"]+)', 1)
                .alias("url"),
                F.regexp_extract("x.dd", r"day-([0-9]+)", 1)
                .cast("long").alias("day")))
    return (ent.groupBy("host_id")
            .agg(F.count(F.lit(1)).alias("n_entries"),
                 F.sum(F.regexp_extract("title", r"T(\d+)", 1)
                       .cast("long")).alias("id_sum"),
                 F.countDistinct("url").alias("n_urls"),
                 F.sum("day").alias("day_sum")))


SQL_FEED_PARSE = """
WITH base AS (
  SELECT doc_id, doc_id % 37 AS host_id,
         CASE WHEN (doc_id % 37) % 2 = 0 THEN
           '<item><title>T' || CAST(doc_id AS VARCHAR)
           || '</title><link>https://h'
           || CAST(doc_id % 37 AS VARCHAR) || '/p/'
           || CAST(doc_id AS VARCHAR) || '</link><pubDate>day-'
           || CAST(doc_id % 28 AS VARCHAR) || '</pubDate></item>'
         ELSE
           '<entry><title>T' || CAST(doc_id AS VARCHAR)
           || '</title><link href="https://h'
           || CAST(doc_id % 37 AS VARCHAR) || '/p/'
           || CAST(doc_id AS VARCHAR) || '"/><updated>day-'
           || CAST(doc_id % 28 AS VARCHAR) || '</updated></entry>'
         END AS e
  FROM documents
),
feeds AS (
  SELECT host_id, string_agg(e, '' ORDER BY doc_id) AS xml
  FROM base GROUP BY 1
),
ent AS (
  SELECT host_id,
         unnest(regexp_extract_all(xml,
             '<title>([^<]*)</title>', 1)) AS title,
         unnest(regexp_extract_all(xml,
             '<link>([^<]*)</link>|<link href="([^"]*)"/>', 0))
             AS l,
         unnest(regexp_extract_all(xml,
             '<pubDate>day-([0-9]+)</pubDate>|<updated>day-([0-9]+)'
             || '</updated>', 0)) AS dd
  FROM feeds
)
SELECT host_id, count(*) AS n_entries,
       CAST(sum(CAST(regexp_extract(title, 'T(\\d+)', 1) AS BIGINT))
            AS BIGINT) AS id_sum,
       count(DISTINCT regexp_extract(l, '(https://[^<"]+)', 1))
           AS n_urls,
       CAST(sum(CAST(regexp_extract(dd, 'day-([0-9]+)', 1) AS BIGINT))
            AS BIGINT) AS day_sum
FROM ent GROUP BY 1
"""

QUERIES_TEXT["feed_parse"] = (q_feed_parse, SQL_FEED_PARSE)


def q_cusum_drift(spark, sf_dir):
    """CUSUM change detection per host over its daily crawl byte
    volume (Page 1954 — the sequential drift detector behind
    "did this site suddenly bloat/empty"): the one-sided CUSUM
    recurrence S_t = max(0, S_{t-1} + dev_t) looks sequential, but it
    is EXACTLY P_t - min_{s<=t} P_s for the running prefix sum P of
    deviations — two key-partitioned windows, no recursion, the same
    identity that distributed pack_sequences. Deviations are exact
    mean-removed integers in day-count units (dev = n_days*y - Y), so
    every CUSUM value hashes unrounded. Output: per host the max
    excursion and the day it peaks."""
    d = _docs(spark, sf_dir)
    # day decorrelated from the source assignment (doc_id % 30 shares
    # residues with source and collapses to 3 days per host)
    daily = (d.select("source",
                      (F.floor(F.col("doc_id") / 20).cast("long")
                       % 30).alias("day"), "n_chars")
             .groupBy("source", "day")
             .agg(F.sum("n_chars").alias("y")))
    per_host = Window.partitionBy("source")
    daily = (daily
             .withColumn("n_days", F.count(F.lit(1)).over(per_host))
             .withColumn("ytot", F.sum("y").over(per_host))
             .withColumn("dev", F.col("n_days") * F.col("y")
                         - F.col("ytot")))
    wo = (Window.partitionBy("source").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    # S_t = max(0, S_{t-1} + dev_t)  ==  P_t - min(0, P_1..P_t):
    # the min must include BOTH the empty prefix (0) and the current
    # P_t, else an all-negative run goes below zero
    daily = (daily.withColumn("p", F.sum("dev").over(wo))
             .withColumn("runmin",
                         F.min(F.least(F.col("p"), F.lit(0))).over(wo))
             .withColumn("cus", F.col("p") - F.col("runmin")))
    # argmax with smallest-day tie-break folded into ONE scalar key
    # (cus * 64 - day; day < 30 < 64): DuckDB's min_by/max_by take no
    # struct keys, so both engines use the same encoding
    return (daily.groupBy("source")
            .agg(F.max("cus").alias("cus_max"),
                 F.max_by("day", F.col("cus") * 64 - F.col("day"))
                 .alias("peak_day")))


SQL_CUSUM = """
WITH daily AS (
  SELECT source, CAST(floor(doc_id / 20.0) AS BIGINT) % 30 AS day,
         CAST(sum(n_chars) AS BIGINT) AS y
  FROM documents GROUP BY 1, 2
),
dev AS (
  SELECT source, day,
         count(*) OVER w * y - CAST(sum(y) OVER w AS BIGINT) AS dev
  FROM daily
  WINDOW w AS (PARTITION BY source)
),
p AS (
  SELECT source, day, dev,
         CAST(sum(dev) OVER wo AS BIGINT) AS p
  FROM dev
  WINDOW wo AS (PARTITION BY source ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT source, day,
         p - min(least(p, 0)) OVER wo AS cus
  FROM p
  WINDOW wo AS (PARTITION BY source ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT source, max(cus) AS cus_max,
       max_by(day, cus * 64 - day) AS peak_day
FROM c GROUP BY source
"""

QUERIES_TEXT["cusum_drift"] = (q_cusum_drift, SQL_CUSUM)


def q_term_burstiness(spark, sf_dir):
    """Term burstiness: Fano factor (variance-to-mean ratio) of
    within-document term frequency over the documents containing the
    term (Church & Gale 1995 — content words arrive in bursts,
    function words arrive Poisson; the signal behind stopword
    induction and keyword weighting). Population variance from three
    exact integer moments per term (df, sum tf, sum tf^2):
    fano = (df*s2 - s1^2) / (df*s1) — one division at the end.
    df >= 20 bounds the output to corpus-common terms. Scale shape:
    one token explode + two hash aggs, the tfidf plan."""
    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id",
                     F.explode(F.filter(
                         F.split(F.lower("text"), "[^a-z0-9]+"),
                         lambda x: x != "")).alias("token")))
    tf = (toks.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    m = (tf.groupBy("token")
         .agg(F.count(F.lit(1)).alias("df"),
              F.sum("tf").alias("s1"),
              F.sum(F.col("tf") * F.col("tf")).alias("s2"))
         .filter(F.col("df") >= 20))
    fano = ((F.col("df") * F.col("s2") - F.col("s1") * F.col("s1"))
            .cast("double")
            / (F.col("df") * F.col("s1")).cast("double"))
    return m.select("token", "df", "s1", "s2",
                    F.round(fano, 6).alias("fano"))


SQL_BURSTINESS = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
m AS (
  SELECT token, count(*) AS df,
         CAST(sum(tf) AS BIGINT) AS s1,
         CAST(sum(tf * tf) AS BIGINT) AS s2
  FROM tf GROUP BY 1 HAVING count(*) >= 20
)
SELECT token, df, s1, s2,
       round(CAST(df * s2 - s1 * s1 AS DOUBLE)
             / CAST(df * s1 AS DOUBLE), 6) AS fano
FROM m
"""

QUERIES_TEXT["term_burstiness"] = (q_term_burstiness, SQL_BURSTINESS)


def q_gini_hosts(spark, sf_dir):
    """Gini coefficient of the per-host page distribution (crawl
    inequality: is the corpus a few mega-hosts or a long tail —
    the number a data-mixing policy needs before reweighting).
    Computed from the closed form over sorted counts,
    G = (2 * sum(i * x_i) - (n + 1) * sum(x_i)) / (n * sum(x_i)),
    which is exact-integer until one final division; host ties in
    count break by host id so the rank assignment is deterministic.
    Scale shape: one hash agg to counts (hosts << pages), one sort
    window over hosts, one 1-row reduction."""
    d = _docs(spark, sf_dir)
    counts = (d.select((F.col("doc_id") % 101).alias("host"))
              .groupBy("host").agg(F.count(F.lit(1)).alias("x")))
    w = Window.orderBy("x", "host")
    ranked = counts.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("x").alias("sx"),
                     F.sum(F.col("i") * F.col("x")).alias("six"))
    g = ((F.lit(2.0) * F.col("six").cast("double")
          - (F.col("n") + 1).cast("double") * F.col("sx").cast("double"))
         / (F.col("n").cast("double") * F.col("sx").cast("double")))
    return agg.select("n", "sx", "six", F.round(g, 6).alias("gini"))


SQL_GINI = """
WITH counts AS (
  SELECT doc_id % 101 AS host, count(*) AS x
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, host) AS i FROM counts
),
agg AS (
  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM ranked
)
SELECT n, sx, six,
       round((2.0 * six - CAST(n + 1 AS DOUBLE) * sx)
             / (CAST(n AS DOUBLE) * sx), 6) AS gini
FROM agg
"""

QUERIES_TEXT["gini_hosts"] = (q_gini_hosts, SQL_GINI)


#: soundex letter->digit map for a..z (the US-English table)
_SOUNDEX_MAP = "01230120022455012623010202"


def q_soundex_blocking(spark, sf_dir):
    """Phonetic blocking for entity resolution (the Soundex key of
    Russell 1918, still the default blocking pass before pairwise ER
    — sorted_neighborhood gates the windowed alternative): synthetic
    surname-like author names get Spark's NATIVE soundex; the DuckDB
    oracle re-implements the full US-English algorithm from scratch
    (H/W-transparent merging, vowel separators, leading-code drop —
    RE2 has no backreferences, so the run-collapse is seven per-digit
    regexp passes), making this a cross-implementation conformance
    gate like text_normalize's NFC row. Verified identical over the
    whole 100-combo fixture space before gating. Blocks with >= 2
    distinct names are the ER candidate sets."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    p1 = F.array(*[F.lit(x) for x in
                   ["smi", "sch", "kra", "mey", "hof",
                    "bau", "koe", "wag", "whi", "osw"]])
    p2 = F.array(*[F.lit(x) for x in
                   ["th", "midt", "mer", "er", "fmann",
                    "mann", "hler", "ner", "tworth", "ald"]])
    # independent indices (i mod 10, floor(i/10) mod 10) span all
    # 100 combos; (i mod 10, 3i+1 mod 10) collapsed to 10 names
    name = F.concat(
        F.element_at(p1, (i % 10 + 1).cast("int")),
        F.element_at(p2, (F.floor(i / 10).cast("long") % 10 + 1)
                     .cast("int")))
    t = d.select("doc_id", name.alias("name"),
                 F.soundex(name).alias("sx"))
    return (t.groupBy("sx")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("name").alias("n_names"),
                 F.array_join(F.sort_array(F.collect_set("name")), ",")
                 .alias("names"))
            .filter(F.col("n_names") >= 2))


def _soundex_sql_expr(col: str) -> str:
    """Full US-English soundex of a lowercase a-z word, in DuckDB
    SQL: H/W stripped from position 2+ (transparent to merging),
    translate to digits, collapse runs per digit (no RE2 backrefs),
    drop separators, drop the leading code iff the first letter has
    one, pad to 4."""
    rest = (f"substr({col}, 1, 1) || replace(replace(substr({col}, 2),"
            " 'h', ''), 'w', '')")
    digits = (f"translate({rest}, 'abcdefghijklmnopqrstuvwxyz',"
              f" '{_SOUNDEX_MAP}')")
    collapsed = digits
    for d in "0123456":
        collapsed = (f"regexp_replace({collapsed}, '{d}{d}+',"
                     f" '{d}', 'g')")
    stripped = f"replace({collapsed}, '0', '')"
    first_code = (f"substr('{_SOUNDEX_MAP}',"
                  f" ascii(substr({col}, 1, 1)) - 96, 1)")
    dropped = (f"CASE WHEN {first_code} <> '0'"
               f" THEN substr({stripped}, 2) ELSE {stripped} END")
    return (f"upper(substr({col}, 1, 1))"
            f" || substr({dropped} || '000', 1, 3)")


def _soundex_blocking_sql() -> str:
    return f"""
WITH named AS (
  SELECT doc_id,
         (['smi','sch','kra','mey','hof','bau','koe','wag','whi',
           'osw'])[doc_id % 10 + 1]
         || (['th','midt','mer','er','fmann','mann','hler','ner',
              'tworth','ald'])[CAST(floor(doc_id / 10) AS BIGINT)
                               % 10 + 1] AS name
  FROM documents
),
keyed AS (
  SELECT doc_id, name, {_soundex_sql_expr('name')} AS sx FROM named
)
SELECT sx, count(*) AS n_docs,
       count(DISTINCT name) AS n_names,
       string_agg(DISTINCT name, ',' ORDER BY name) AS names
FROM keyed GROUP BY sx
HAVING count(DISTINCT name) >= 2
"""


QUERIES_TEXT["soundex_blocking"] = (q_soundex_blocking,
                                    _soundex_blocking_sql())


def q_hapax_ratio(spark, sf_dir):
    """Hapax legomena analysis per source (the vocabulary-growth
    diagnostic behind Good-Turing smoothing, already gated as
    good_turing): fraction of a source's vocabulary seen exactly
    once, plus dis legomena (exactly twice) — the two counts whose
    ratio estimates unseen mass. All exact integers except two final
    divisions. Scale shape: token explode -> (source, token) counts
    -> per-source rollup, the tfidf plan."""
    d = _docs(spark, sf_dir)
    toks = (d.select("source",
                     F.explode(F.filter(
                         F.split(F.lower("text"), "[^a-z0-9]+"),
                         lambda x: x != "")).alias("token")))
    tf = (toks.groupBy("source", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    return (tf.groupBy("source")
            .agg(F.count(F.lit(1)).alias("vocab"),
                 F.sum("tf").alias("tokens"),
                 F.sum((F.col("tf") == 1).cast("long")).alias("hapax"),
                 F.sum((F.col("tf") == 2).cast("long")).alias("dis"))
            .select("source", "vocab", "tokens", "hapax", "dis",
                    F.round(F.col("hapax").cast("double")
                            / F.col("vocab").cast("double"), 6)
                    .alias("hapax_frac"),
                    F.round(F.col("hapax").cast("double")
                            / F.col("tokens").cast("double"), 6)
                    .alias("p_unseen")))


SQL_HAPAX = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2)
SELECT source, count(*) AS vocab,
       CAST(sum(tf) AS BIGINT) AS tokens,
       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS hapax,
       CAST(sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_frac,
       round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(tf) AS DOUBLE), 6) AS p_unseen
FROM tf GROUP BY source
"""

QUERIES_TEXT["hapax_ratio"] = (q_hapax_ratio, SQL_HAPAX)


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law fit V = K * n^beta over per-source (tokens, vocab)
    points (Heaps 1978 — vocabulary growth; beta ~ 0.5 for natural
    text, ~1 for templated spam): ordinary least squares on
    (ln n, ln V) with BOTH logs quantized to integer MICROS per row (nanos squared
    overflow int64 in the moment sums)
    before the sums (the ln call is per-row libm; the SUMS are exact
    longs, so the regression replays bit-identically — the zipf_fit
    discipline). One token pass, one tiny agg over sources."""
    d = _docs(spark, sf_dir)
    toks = (d.select("source",
                     F.explode(F.filter(
                         F.split(F.lower("text"), "[^a-z0-9]+"),
                         lambda x: x != "")).alias("token")))
    per = (toks.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.countDistinct("token").alias("v")))
    ln_n = F.round(F.log(F.col("n").cast("double")) * 1e6, 0) \
        .cast("long")
    ln_v = F.round(F.log(F.col("v").cast("double")) * 1e6, 0) \
        .cast("long")
    pts = per.select(ln_n.alias("x"), ln_v.alias("y"))
    agg = pts.agg(F.count(F.lit(1)).alias("m"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"))
    md = F.col("m").cast("double")
    beta = ((md * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (md * F.col("sxx").cast("double")
               - F.col("sx").cast("double")
               * F.col("sx").cast("double")))
    lnk = (F.col("sy").cast("double") / md / 1e6
           - beta * F.col("sx").cast("double") / md / 1e6)
    return agg.select("m", F.round(beta, 6).alias("beta"),
                      F.round(F.exp(lnk), 6).alias("k"))


SQL_HEAPS = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
per AS (
  SELECT source, count(*) AS n, count(DISTINCT token) AS v
  FROM toks GROUP BY 1
),
pts AS (
  SELECT CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM per
),
agg AS (
  SELECT count(*) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT m,
       round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
           AS beta,
       round(exp(CAST(sy AS DOUBLE) / m / 1e6
                 - ((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(m AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx))
                   * CAST(sx AS DOUBLE) / m / 1e6), 6) AS k
FROM agg
"""

QUERIES_TEXT["heaps_fit"] = (q_heaps_fit, SQL_HEAPS)


def q_lang_entropy(spark, sf_dir):
    """Language-mix Shannon entropy per source (the multilingual-
    balance diagnostic a data-mixing policy reads next to
    domain_buckets): H = -sum p ln p over the source's language
    distribution, each term quantized to integer nanos from exact
    integer counts (p = c/n computed identically in both engines, the
    SUM of terms exact), plus the majority language by deterministic
    argmax. Two hash aggs, hosts << pages."""
    d = _docs(spark, sf_dir)
    cl = (d.groupBy("source", "lang")
          .agg(F.count(F.lit(1)).alias("c")))
    per = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(F.desc("c"), "lang")
    cl = (cl.withColumn("n", F.sum("c").over(per))
          .withColumn("rk", F.row_number().over(wr)))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term_u = F.round(-p * F.log(p) * 1e9, 0).cast("long")
    return (cl.groupBy("source")
            .agg(F.max("n").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_langs"),
                 F.max(F.when(F.col("rk") == 1, F.col("lang")))
                 .alias("majority_lang"),
                 F.sum(term_u).alias("h_nanos"))
            .select("source", "n_docs", "n_langs", "majority_lang",
                    F.round(F.col("h_nanos").cast("double") / 1e9, 6)
                    .alias("entropy_nats")))


SQL_LANG_ENTROPY = """
WITH cl AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
),
t AS (
  SELECT source, lang, c,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, lang) AS rk
  FROM cl
)
SELECT source, max(n) AS n_docs, count(*) AS n_langs,
       max(CASE WHEN rk = 1 THEN lang END) AS majority_lang,
       round(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
                 * ln(CAST(c AS DOUBLE) / n) * 1e9, 0) AS BIGINT))
             AS DOUBLE) / 1e9, 6) AS entropy_nats
FROM t GROUP BY source
"""

QUERIES_TEXT["lang_entropy"] = (q_lang_entropy, SQL_LANG_ENTROPY)


def q_toc_extract(spark, sf_dir):
    """Heading-outline (table-of-contents) extraction and validation
    (the accessibility/SEO audit pass: does the page's h1-h3 sequence
    form a well-nested outline, i.e. no level ever jumps MORE than
    one step deeper): deterministic page HTML (1-in-7 pages start at
    h3 — broken), heading levels pulled with one regexp_extract_all,
    adjacency checked with zip_with over shifted slices (argument
    arrays evaluate once per ROW — the established guard against the
    element_at-in-transform O(n^2) inlining trap). Per-source
    rollup of outline health."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    body = F.concat(
        F.lit("<h1>t</h1>"),
        F.repeat(F.lit("<h2>s</h2><h3>p</h3>"),
                 (i % 3 + 1).cast("int")))
    html = F.when(i % 7 == 0,
                  F.concat(F.lit("<h3>x</h3>"), body)).otherwise(body)
    pages = d.select("doc_id", "source", html.alias("html"))
    levels = F.expr(
        "transform(regexp_extract_all(html, '<h([123])>', 1),"
        " x -> cast(x AS int))")
    pages = pages.withColumn("lv", levels)
    nxt = F.slice(F.col("lv"), 2, F.size("lv") - 1)
    prv = F.slice(F.col("lv"), 1, F.size("lv") - 1)
    ok_steps = F.forall(
        F.zip_with(nxt, prv, lambda n, p: n <= p + 1),
        lambda b: b)
    well = (F.element_at(F.col("lv"), 1) == 1) & ok_steps
    per = pages.select(
        "source",
        F.size(F.filter(F.col("lv"), lambda x: x == 1)).alias("h1"),
        F.size(F.filter(F.col("lv"), lambda x: x == 2)).alias("h2"),
        F.size(F.filter(F.col("lv"), lambda x: x == 3)).alias("h3"),
        well.cast("long").alias("ok"))
    return (per.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum("h1").alias("n_h1"),
                 F.sum("h2").alias("n_h2"),
                 F.sum("h3").alias("n_h3"),
                 F.sum("ok").alias("n_well_formed")))


SQL_TOC = """
WITH pages AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN '<h3>x</h3>' ELSE '' END
         || '<h1>t</h1>'
         || repeat('<h2>s</h2><h3>p</h3>', CAST(doc_id % 3 + 1 AS INT))
             AS html
  FROM documents
),
lv AS (
  SELECT doc_id, source,
         list_transform(regexp_extract_all(html, '<h([123])>', 1),
                        x -> CAST(x AS INT)) AS l
  FROM pages
),
checked AS (
  SELECT doc_id, source,
         len(list_filter(l, x -> x = 1)) AS h1,
         len(list_filter(l, x -> x = 2)) AS h2,
         len(list_filter(l, x -> x = 3)) AS h3,
         CASE WHEN l[1] = 1 AND NOT EXISTS (
                SELECT 1 FROM (SELECT unnest(range(1, len(l))) AS i)
                WHERE l[i + 1] > l[i] + 1)
              THEN 1 ELSE 0 END AS ok
  FROM lv
)
SELECT source, count(*) AS n_pages,
       CAST(sum(h1) AS BIGINT) AS n_h1,
       CAST(sum(h2) AS BIGINT) AS n_h2,
       CAST(sum(h3) AS BIGINT) AS n_h3,
       CAST(sum(ok) AS BIGINT) AS n_well_formed
FROM checked GROUP BY source
"""

QUERIES_TEXT["toc_extract"] = (q_toc_extract, SQL_TOC)


def q_kendall_tau(spark, sf_dir):
    """Kendall tau-a rank correlation between two retrieval scorers
    (the eval-suite companion to quality_auc and ndcg_eval: do BM25ish
    and TFIDFish agree on ORDER, not just on top-k): per query,
    concordant minus discordant pairs over all candidate pairs —
    exact integer pair counting, one division at the end. Scale
    shape: candidates are the top-48 per query (a key-partitioned
    window), so the pair
    join is per-query quadratic in a CONSTANT, not in corpus size —
    the zone_diameter cap pattern."""
    d = _docs(spark, sf_dir)
    cand = (d.select("doc_id",
                     F.explode(F.array(*[F.lit(q) for q in range(12)]))
                     .alias("qid"))
            .filter((F.col("doc_id") + F.col("qid")) % 7 < 1)
            .select("qid", "doc_id",
                    ((F.col("doc_id") * 31 + F.col("qid") * 17) % 997)
                    .alias("s1"),
                    ((F.col("doc_id") * 13 + F.col("qid") * 5) % 991)
                    .alias("s2")))
    wr = Window.partitionBy("qid").orderBy(F.desc("s1"), "doc_id")
    cand = (cand.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 48).drop("rk"))
    a = cand.select("qid", F.col("doc_id").alias("ia"),
                    F.col("s1").alias("x1"), F.col("s2").alias("y1"))
    b = cand.select("qid", F.col("doc_id").alias("ib"),
                    F.col("s1").alias("x2"), F.col("s2").alias("y2"))
    pairs = (a.join(b, "qid").filter(F.col("ia") < F.col("ib")))
    sgn = (F.signum((F.col("x1") - F.col("x2")).cast("double"))
           * F.signum((F.col("y1") - F.col("y2")).cast("double")))
    return (pairs.groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(sgn.cast("long")).alias("s"))
            .select("qid", "n_pairs", "s",
                    F.round(F.col("s").cast("double")
                            / F.col("n_pairs").cast("double"), 6)
                    .alias("tau_a"))
            .orderBy("qid"))


SQL_KENDALL = """
WITH cand0 AS (
  SELECT q.qid, d.doc_id,
         (d.doc_id * 31 + q.qid * 17) % 997 AS s1,
         (d.doc_id * 13 + q.qid * 5) % 991 AS s2
  FROM documents d
  CROSS JOIN (SELECT unnest(range(12)) AS qid) q
  WHERE (d.doc_id + q.qid) % 7 < 1
),
cand AS (
  SELECT qid, doc_id, s1, s2 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY s1 DESC, doc_id) AS rk
    FROM cand0)
  WHERE rk <= 48
),
pairs AS (
  SELECT a.qid,
         CAST(sign(a.s1 - b.s1) * sign(a.s2 - b.s2) AS BIGINT) AS c
  FROM cand a JOIN cand b
    ON a.qid = b.qid AND a.doc_id < b.doc_id
)
SELECT qid, count(*) AS n_pairs, CAST(sum(c) AS BIGINT) AS s,
       round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS tau_a
FROM pairs GROUP BY 1 ORDER BY 1
"""

QUERIES_TEXT["kendall_tau"] = (q_kendall_tau, SQL_KENDALL)


def q_sitemap_discovery(spark, sf_dir):
    """Sitemap discovery through robots.txt (RFC 9309 section 2.3's
    one cross-cutting directive: `Sitemap:` lines are outside any
    user-agent group): synthetic per-host robots files advertise 0-2
    sitemap URLs (1-in-5 hosts advertise none — the crawl must fall
    back to /sitemap.xml probing); the directive extraction is one
    regexp_extract_all over the file, and the discovered set joins
    against the hosts' actual sitemap inventory to classify
    advertised+present / advertised-but-missing / orphan. The
    dangling-edge accounting every crawl scheduler runs."""
    d = _docs(spark, sf_dir)
    host = F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string"))
    hosts = d.select(host.alias("host")).distinct()
    hid = F.regexp_extract("host", r"h(\d+)", 1).cast("long")
    sm1 = F.concat(F.lit("Sitemap: https://"), F.col("host"),
                   F.lit("/sitemap.xml\n"))
    sm2 = F.concat(F.lit("Sitemap: https://"), F.col("host"),
                   F.lit("/news-map.xml\n"))
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n"),
            F.when(hid % 5 == 0, F.lit(""))
            .when(hid % 2 == 0, sm1)
            .otherwise(F.concat(sm1, sm2))).alias("txt"))
    adv = (robots.select(
        "host",
        F.explode(F.expr(
            r"regexp_extract_all(txt, 'Sitemap: (\\S+)', 1)"))
        .alias("url")))
    # the hosts' REAL sitemap inventory: every host serves
    # /sitemap.xml; only hosts with hid % 3 = 0 also serve news-map
    inv = (hosts.select(
        "host",
        F.explode(F.when(
            hid % 3 == 0,
            F.array(F.concat(F.lit("https://"), F.col("host"),
                             F.lit("/sitemap.xml")),
                    F.concat(F.lit("https://"), F.col("host"),
                             F.lit("/news-map.xml"))))
            .otherwise(F.array(
                F.concat(F.lit("https://"), F.col("host"),
                         F.lit("/sitemap.xml"))))).alias("url")))
    j = (adv.withColumn("a", F.lit(1))
         .join(inv.withColumn("b", F.lit(1)),
               ["host", "url"], "full_outer")
         .select(F.when(F.col("a").isNotNull()
                        & F.col("b").isNotNull(), "ok")
                 .when(F.col("a").isNotNull(), "advertised_missing")
                 .otherwise("orphan").alias("status")))
    return (j.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status"))


SQL_SITEMAP_DISCOVERY = """
WITH hosts AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
         doc_id % 37 AS hid
  FROM documents
),
adv AS (
  SELECT host, 'https://' || host || '/sitemap.xml' AS url
  FROM hosts WHERE hid % 5 <> 0
  UNION ALL
  SELECT host, 'https://' || host || '/news-map.xml'
  FROM hosts WHERE hid % 5 <> 0 AND hid % 2 <> 0
),
inv AS (
  SELECT host, 'https://' || host || '/sitemap.xml' AS url FROM hosts
  UNION ALL
  SELECT host, 'https://' || host || '/news-map.xml'
  FROM hosts WHERE hid % 3 = 0
)
SELECT CASE WHEN a.url IS NOT NULL AND i.url IS NOT NULL THEN 'ok'
            WHEN a.url IS NOT NULL THEN 'advertised_missing'
            ELSE 'orphan' END AS status,
       count(*) AS n
FROM adv a FULL OUTER JOIN inv i
  ON i.host = a.host AND i.url = a.url
GROUP BY 1 ORDER BY 1
"""

QUERIES_TEXT["sitemap_discovery"] = (q_sitemap_discovery,
                                     SQL_SITEMAP_DISCOVERY)


def q_email_deobfuscate(spark, sf_dir):
    """Obfuscated-contact extraction (the PII pass spam scrapers
    forced on the world: "user [at] host [dot] com" must count as an
    email in a privacy audit): deterministic page text embeds plain,
    [at]/[dot]-obfuscated, and (at)/(dot)-obfuscated addresses;
    normalization is TWO ordered regexp_replace passes in the
    Java/RE2 common subset, then the plain-email regex of
    operators/pii.py counts both forms. Per-source totals prove the
    deobfuscation found exactly the planted set."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    plain = F.concat(F.lit("contact u"), i.cast("string"),
                     F.lit("@mail"), (i % 9).cast("string"),
                     F.lit(".example.com now"))
    obf1 = F.concat(F.lit("or u"), i.cast("string"),
                    F.lit(" [at] mail"), (i % 9).cast("string"),
                    F.lit(" [dot] example [dot] com"))
    obf2 = F.concat(F.lit("or u"), i.cast("string"),
                    F.lit(" (at) mail"), (i % 9).cast("string"),
                    F.lit(" (dot) example (dot) com"))
    txt = F.when(i % 3 == 0, F.concat(plain, F.lit(" "), obf1)) \
        .when(i % 3 == 1, F.concat(plain, F.lit(" "), obf2)) \
        .otherwise(plain)
    pages = d.select("doc_id", "source", txt.alias("t"))
    deob = F.regexp_replace(
        F.regexp_replace("t", r"\s*[\[\(]at[\]\)]\s*", "@"),
        r"\s*[\[\(]dot[\]\)]\s*", ".")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    pages = pages.withColumn("clean", deob)
    n_raw = F.size(F.expr(
        f"regexp_extract_all(t, '{email_re}', 0)"))
    n_deob = F.size(F.expr(
        f"regexp_extract_all(clean, '{email_re}', 0)"))
    return (pages.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(n_raw.cast("long")).alias("emails_raw"),
                 F.sum(n_deob.cast("long")).alias("emails_deob"),
                 F.sum((n_deob > n_raw).cast("long"))
                 .alias("pages_obfuscated")))


SQL_EMAIL_DEOB = """
WITH pages AS (
  SELECT doc_id, source,
         'contact u' || CAST(doc_id AS VARCHAR) || '@mail'
         || CAST(doc_id % 9 AS VARCHAR) || '.example.com now'
         || CASE WHEN doc_id % 3 = 0 THEN
              ' or u' || CAST(doc_id AS VARCHAR) || ' [at] mail'
              || CAST(doc_id % 9 AS VARCHAR)
              || ' [dot] example [dot] com'
            WHEN doc_id % 3 = 1 THEN
              ' or u' || CAST(doc_id AS VARCHAR) || ' (at) mail'
              || CAST(doc_id % 9 AS VARCHAR)
              || ' (dot) example (dot) com'
            ELSE '' END AS t
  FROM documents
),
c AS (
  SELECT doc_id, source, t,
         regexp_replace(regexp_replace(t,
             '\\s*[\\[\\(]at[\\]\\)]\\s*', '@', 'g'),
             '\\s*[\\[\\(]dot[\\]\\)]\\s*', '.', 'g') AS clean
  FROM pages
),
n AS (
  SELECT source,
         len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0))
             AS n_raw,
         len(regexp_extract_all(clean,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0))
             AS n_deob
  FROM c
)
SELECT source, count(*) AS n_pages,
       CAST(sum(n_raw) AS BIGINT) AS emails_raw,
       CAST(sum(n_deob) AS BIGINT) AS emails_deob,
       CAST(sum(CASE WHEN n_deob > n_raw THEN 1 ELSE 0 END) AS BIGINT)
           AS pages_obfuscated
FROM n GROUP BY source
"""

QUERIES_TEXT["email_deobfuscate"] = (q_email_deobfuscate,
                                     SQL_EMAIL_DEOB)


def q_chi2_features(spark, sf_dir):
    """Chi-square feature selection (Yang & Pedersen 1997 — the
    classic term-class association screen before training a text
    classifier): per (token, lang) the 2x2 contingency chi-square
    from FOUR exact document counts (a = docs of the class containing
    the term, b = other docs containing it, c/d their complements),
    chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)) with the numerator
    and every marginal exact integers, one division per row. df >= 10
    bounds output to informative terms; top-3 per lang by score with
    token tie-break."""
    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id", "lang",
                     F.explode(F.array_distinct(F.filter(
                         F.split(F.lower("text"), "[^a-z0-9]+"),
                         lambda x: x != ""))).alias("token")))
    n_docs = d.count()
    cls = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_cls"))
    tok_df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"))
    a_t = (toks.groupBy("token", "lang")
           .agg(F.count(F.lit(1)).alias("a")))
    j = (a_t.join(F.broadcast(cls), "lang")
         .join(tok_df.filter(F.col("df") >= 10), "token"))
    n = F.lit(n_docs).cast("double")
    a = F.col("a").cast("double")
    b = (F.col("df") - F.col("a")).cast("double")
    c = (F.col("n_cls") - F.col("a")).cast("double")
    dd = (F.lit(n_docs) - F.col("df")
          - (F.col("n_cls") - F.col("a"))).cast("double")
    num = n * (a * dd - b * c) * (a * dd - b * c)
    den = ((a + b) * (c + dd) * (a + c) * (b + dd))
    chi2 = F.round(num / den, 6)
    scored = j.select("lang", "token", "a", "df", chi2.alias("chi2"))
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), "token")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("lang", "rk", "token", "a", "df", "chi2"))


SQL_CHI2_FEATURES = """
WITH toks AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
n_docs AS (SELECT count(*) AS n FROM documents),
cls AS (SELECT lang, count(*) AS n_cls FROM documents GROUP BY 1),
tok_df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
),
a_t AS (SELECT token, lang, count(*) AS a FROM toks GROUP BY 1, 2),
j AS (
  SELECT a_t.lang, a_t.token, a_t.a, tok_df.df, cls.n_cls, n_docs.n
  FROM a_t
  JOIN cls ON cls.lang = a_t.lang
  JOIN tok_df ON tok_df.token = a_t.token
  CROSS JOIN n_docs
  WHERE tok_df.df >= 10
),
scored AS (
  SELECT lang, token, a, df,
         round(CAST(n AS DOUBLE)
               * (CAST(a AS DOUBLE) * (n - df - (n_cls - a))
                  - CAST(df - a AS DOUBLE) * (n_cls - a))
               * (CAST(a AS DOUBLE) * (n - df - (n_cls - a))
                  - CAST(df - a AS DOUBLE) * (n_cls - a))
               / (CAST(df AS DOUBLE) * (n - df)
                  * n_cls * (n - n_cls)), 6) AS chi2
  FROM j
)
SELECT lang, rk, token, a, df, chi2 FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY chi2 DESC, token) AS rk
  FROM scored)
WHERE rk <= 3
"""

QUERIES_TEXT["chi2_features"] = (q_chi2_features, SQL_CHI2_FEATURES)


def q_stylometry_delta(spark, sf_dir):
    """Burrows' Delta stylometry profile per source (Burrows 2002 —
    the authorship-attribution baseline; here the per-site style
    drift detector a template-removal pass reads): for the top-20
    corpus words, each source's usage rate is z-scored against the
    cross-source distribution, and Delta = mean |z|. Exactness: rates
    in integer parts-per-million, means/variances from exact PPM
    sums, per-term |z| quantized to integer micros before the final
    mean — the engine's standard aggregation-order-independent
    pipeline. Bounded by the 20-word profile everywhere."""
    d = _docs(spark, sf_dir)
    toks = (d.select("source",
                     F.explode(F.filter(
                         F.split(F.lower("text"), "[^a-z0-9]+"),
                         lambda x: x != "")).alias("token")))
    top = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.col("n").desc(), "token").limit(20)
           .select("token"))
    per_src = (toks.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_tok")))
    cnt = (toks.join(F.broadcast(top), "token")
           .groupBy("source", "token")
           .agg(F.count(F.lit(1)).alias("c")))
    rate = (cnt.join(per_src, "source")
            .select("source", "token",
                    F.floor(F.col("c") * 1000000 / F.col("n_tok"))
                    .cast("long").alias("ppm")))
    stats = (rate.groupBy("token")
             .agg(F.count(F.lit(1)).alias("m"),
                  F.sum("ppm").alias("s1"),
                  F.sum(F.col("ppm") * F.col("ppm")).alias("s2")))
    j = rate.join(F.broadcast(stats), "token")
    m = F.col("m").cast("double")
    mean = F.col("s1").cast("double") / m
    var = F.col("s2").cast("double") / m - mean * mean
    z_u = F.when(var > 0,
                 F.round(F.abs((F.col("ppm").cast("double") - mean)
                               / F.sqrt(var)) * 1e6, 0).cast("long"))
    j = j.withColumn("z_u", z_u).filter(F.col("z_u").isNotNull())
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("z_u").alias("sum_z_u"))
            .select("source", "n_terms", "sum_z_u",
                    F.round(F.col("sum_z_u").cast("double") / 1e6
                            / F.col("n_terms").cast("double"), 6)
                    .alias("burrows_delta")))


SQL_STYLOMETRY = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
),
top AS (
  SELECT token FROM (SELECT token, count(*) AS n FROM toks GROUP BY 1)
  ORDER BY n DESC, token LIMIT 20
),
per_src AS (SELECT source, count(*) AS n_tok FROM toks GROUP BY 1),
cnt AS (
  SELECT t.source, t.token, count(*) AS c
  FROM toks t JOIN top ON top.token = t.token
  GROUP BY 1, 2
),
rate AS (
  SELECT cnt.source, cnt.token,
         CAST(floor(cnt.c * 1000000.0 / per_src.n_tok) AS BIGINT)
             AS ppm
  FROM cnt JOIN per_src ON per_src.source = cnt.source
),
stats AS (
  SELECT token, count(*) AS m, CAST(sum(ppm) AS BIGINT) AS s1,
         CAST(sum(ppm * ppm) AS BIGINT) AS s2
  FROM rate GROUP BY 1
),
z AS (
  SELECT rate.source,
         CASE WHEN CAST(s2 AS DOUBLE) / m
                   - (CAST(s1 AS DOUBLE) / m)
                     * (CAST(s1 AS DOUBLE) / m) > 0
              THEN CAST(round(abs((ppm - CAST(s1 AS DOUBLE) / m)
                   / sqrt(CAST(s2 AS DOUBLE) / m
                          - (CAST(s1 AS DOUBLE) / m)
                            * (CAST(s1 AS DOUBLE) / m))) * 1e6, 0)
                   AS BIGINT)
              END AS z_u
  FROM rate JOIN stats ON stats.token = rate.token
)
SELECT source, count(*) AS n_terms,
       CAST(sum(z_u) AS BIGINT) AS sum_z_u,
       round(CAST(sum(z_u) AS DOUBLE) / 1e6 / count(*), 6)
           AS burrows_delta
FROM z WHERE z_u IS NOT NULL
GROUP BY source
"""

QUERIES_TEXT["stylometry_delta"] = (q_stylometry_delta, SQL_STYLOMETRY)


def q_coverage_curve(spark, sf_dir):
    """Host concentration curve (the Lorenz-curve companion to
    gini_hosts a data-mixing policy actually reads off: "the top k
    hosts hold what fraction of the corpus"): hosts ranked by page
    count descending, cumulative share at ranks 1..15 — one sort
    window over HOSTS (hosts << pages, the gini discipline), exact
    integer cumulative sums, one division per emitted rank."""
    d = _docs(spark, sf_dir)
    counts = (d.select((F.col("doc_id") % 101).alias("host"))
              .groupBy("host").agg(F.count(F.lit(1)).alias("x")))
    w = Window.orderBy(F.desc("x"), "host")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (counts.withColumn("rk", F.row_number().over(w))
              .withColumn("cum", F.sum("x").over(wc)))
    tot = counts.agg(F.sum("x").alias("n"))
    return (ranked.filter(F.col("rk") <= 15)
            .crossJoin(F.broadcast(tot))
            .select("rk", F.col("host"), F.col("x"), "cum",
                    F.round(F.col("cum").cast("double")
                            / F.col("n").cast("double"), 6)
                    .alias("cum_share"))
            .orderBy("rk"))


SQL_COVERAGE_CURVE = """
WITH counts AS (
  SELECT doc_id % 101 AS host, count(*) AS x
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT host, x,
         row_number() OVER (ORDER BY x DESC, host) AS rk,
         CAST(sum(x) OVER (ORDER BY x DESC, host
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM counts
),
tot AS (SELECT CAST(sum(x) AS BIGINT) AS n FROM counts)
SELECT rk, host, x, cum,
       round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cum_share
FROM ranked CROSS JOIN tot
WHERE rk <= 15 ORDER BY rk
"""

QUERIES_TEXT["coverage_curve"] = (q_coverage_curve,
                                  SQL_COVERAGE_CURVE)
