"""Task-vector algebra and model-merging queries (TIES, DARE, checkpoint round-trips, merge diagnostics).

Consolidated from the former numeric registry batches 3, 66 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry3.py
# ==================================================================

"""Query registry, batch 3: remaining task-vector algebra (T2/T3/T10/
T11), ShareGPT conversation flattening, multimodal column plumbing
(deterministic fake codecs), MinHash-LSH candidate pairs, LESS stub,
random sampling, PCA.

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import clustering as C
from datas_spark.operators import conversations as CV
from datas_spark.operators import dedup as D
from datas_spark.operators import multimodal as MM
from datas_spark.operators import scoring as SC
from datas_spark.operators import selection as S
from datas_spark.operators import taskvector as TV
from datas_spark.registry_core import register
from datas_spark.registry_scoring import _ckpt_f, _ckpt_p

# ---------------------------------------------------------------------------
# §2.7 T2/T3/T10/T11 — remaining task-vector ops
# ---------------------------------------------------------------------------

@register(
    "task_vector_add",
    oracle="""
    SELECT p_brand AS key, p_partkey AS idx,
           p_retailprice + p_size AS value
    FROM part
    """,
)
def q_task_vector_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (merging.py:52-61): tv1 + tv2 over shared (key, idx)."""
    return TV.tv_add(_ckpt_f(spark, sf_dir), _ckpt_p(spark, sf_dir))


@register(
    "task_vector_negate",
    oracle="SELECT p_brand AS key, p_partkey AS idx, -p_retailprice AS value FROM part",
)
def q_task_vector_negate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (merging.py:68-74)."""
    return TV.tv_negate(_ckpt_f(spark, sf_dir))


@register(
    "checkpoint_flatten",
    oracle="""
    SELECT p_brand AS key, p_partkey AS idx,
           row_number() OVER (ORDER BY p_brand, p_partkey) - 1 AS pos,
           p_retailprice AS value
    FROM part
    """,
)
def q_checkpoint_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 (get_taskV.py:20-36): state_dict → flat-vector positions.
    Spark side avoids the oracle's global sort: per-key offsets (tiny
    cumulated dims table, broadcast) + per-key row_number."""
    return TV.flatten_positions(_ckpt_f(spark, sf_dir))


@register(
    "param_key_symdiff",
    oracle="""
    WITH ka AS (SELECT DISTINCT 'layer_' || (p_partkey % 29) AS key FROM part),
         kb AS (SELECT DISTINCT 'layer_' || (p_partkey % 31) AS key FROM part)
    SELECT coalesce(ka.key, kb.key) AS key,
           CASE WHEN kb.key IS NULL THEN 'a' ELSE 'b' END AS side
    FROM ka FULL OUTER JOIN kb ON ka.key = kb.key
    WHERE ka.key IS NULL OR kb.key IS NULL
    """,
)
def q_param_key_symdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 (get_taskV.py:78-99): param names present in exactly one
    checkpoint — two synthetic checkpoints whose layer-name sets differ
    (mod-29 vs mod-31 buckets) so the diff is nonempty at every SF."""
    part = read_table(spark, sf_dir, "part")

    def ckpt(mod: int) -> DataFrame:
        return part.select(
            F.concat(F.lit("layer_"), F.col("p_partkey") % mod).alias("key"),
            F.col("p_partkey").alias("idx"),
            F.col("p_retailprice").alias("value"),
        )

    return TV.key_symmetric_difference(ckpt(29), ckpt(31))


# ---------------------------------------------------------------------------
# §1.2 ShareGPT — conversation flatten / alpaca projection
# ---------------------------------------------------------------------------

def _synth_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic 2-turn sharegpt rows (schema parity with
    data/rawdata/sharegpt_simple.jsonl)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("conversation_id"),
        F.col("source").alias("category"),
        F.array(
            F.struct(
                F.substring("text", 1, 40).alias("human"),
                F.col("lang").alias("assistant"),
            ),
            F.struct(
                F.substring("text", 41, 40).alias("human"),
                F.col("source").alias("assistant"),
            ),
        ).alias("conversation"),
    )


@register(
    "sharegpt_flatten",
    oracle="""
    SELECT doc_id AS conversation_id, 0 AS turn,
           substr(text, 1, 40) AS human, lang AS assistant
    FROM documents
    UNION ALL
    SELECT doc_id, 1, substr(text, 41, 40), source FROM documents
    """,
)
def q_sharegpt_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShareGPT flatten (base.py:28 'later'; readme.md:12-24 format):
    posexplode to one row per turn, order preserved."""
    conv = _synth_conversations(spark, sf_dir)
    return CV.flatten_conversations(conv, "conversation", ["conversation_id"]).select(
        "conversation_id", F.col("turn").cast("int").alias("turn"), "human", "assistant"
    )


@register(
    "sharegpt_turn_scores",
    oracle="""
    WITH turns AS (
      SELECT doc_id AS conversation_id, 0 AS turn,
             substr(text, 1, 40) AS human, lang AS assistant
      FROM documents
      UNION ALL
      SELECT doc_id, 1, substr(text, 41, 40), source FROM documents
    )
    SELECT conversation_id, turn, length(assistant)::BIGINT AS lenth
    FROM turns
    """,
)
def q_sharegpt_turn_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn → alpaca projection → P2 length scorer: the whole
    scorer family applies per-turn once flattened."""
    conv = _synth_conversations(spark, sf_dir)
    turns = CV.turns_to_alpaca(
        CV.flatten_conversations(conv, "conversation", ["conversation_id"])
    )
    return SC.length_scorer(turns).select(
        "conversation_id", F.col("turn").cast("int").alias("turn"), "lenth"
    )


# ---------------------------------------------------------------------------
# §2.9 multimodal columns — binary payload plumbing (fake codecs)
# ---------------------------------------------------------------------------

def _synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary media rows: text bytes, 1-in-3 prefixed with
    PNG/JPEG magic so the mime sniffer has work to do."""
    docs = read_table(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("89504E47"))
        .when(F.col("doc_id") % 3 == 1, F.lit("FFD8"))
        .otherwise(F.lit(""))
    )
    content = F.unhex(F.concat(magic, F.hex(F.encode(F.col("text"), "utf-8"))))
    return docs.select(F.col("doc_id").alias("media_id"), content.alias("content"))


@register(
    "media_metadata",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
        unhex(CASE WHEN doc_id % 3 = 0 THEN '89504E47'
                   WHEN doc_id % 3 = 1 THEN 'FFD8' ELSE '' END
              || hex(encode(text))) AS content
      FROM documents
    )
    SELECT media_id, octet_length(content)::BIGINT AS n_bytes,
      CASE WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hex(content), 1, 4) = 'FFD8' THEN 'image/jpeg'
           ELSE 'application/octet-stream' END AS mime
    FROM m
    """,
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata without decoding (magic-byte sniff +
    byte length); blobs never leave the scan."""
    media = _synth_media(spark, sf_dir)
    return MM.attach_media_metadata(media).select("media_id", "n_bytes", "mime")


def _fake_decoder(b: bytes) -> list[float]:
    """Deterministic stand-in for an image codec: features derivable
    from raw bytes (length mod, first/last byte) — reproducible in SQL."""
    return [float(len(b) % 7), float(b[0]), float(b[-1])]


@register(
    "media_decode_features",
    oracle="""
    SELECT doc_id AS media_id,
      (length(text) % 7)::BIGINT || ',' || ord(substr(text, 1, 1))::BIGINT
        || ',' || ord(substr(text, -1, 1))::BIGINT || ',0' AS features_csv
    FROM documents
    """,
)
def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-extract through the REAL mapInPandas path
    (Arrow batches, schema contract); codec is the deterministic fake —
    swap a PIL/ffmpeg callable in production (operators/multimodal.py).
    The feature vector (whole-number floats by construction) is
    projected to an int CSV scalar for the driver's pandas canonicalizer
    (list cells are unhashable there)."""
    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = MM.decode_features(media, dim=4, decoder=_fake_decoder)
    return feats.select(
        "media_id",
        F.concat_ws(
            ",", F.transform("features", lambda x: x.cast("long").cast("string"))
        ).alias("features_csv"),
    )


@register(
    "media_frame_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id, length(text) AS n,
             unnest(range(0, CAST(ceil(length(text) / 16.0) AS BIGINT))) AS frame_idx
      FROM documents
    )
    SELECT media_id, frame_idx,
           least(16, n - frame_idx * 16)::BIGINT AS frame_len
    FROM t
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (mapInPandas row expansion); fake
    extractor chunks the payload every 16 bytes."""
    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    frames = MM.frame_sample(
        media,
        frame_extractor=lambda b, ms: [b[i : i + 16] for i in range(0, len(b), 16)],
    )
    return frames.select(
        "media_id", "frame_idx", F.length("frame").cast("long").alias("frame_len")
    )


@register(
    "media_resize",
    oracle="""
    SELECT doc_id AS media_id,
           least(length(text), 64)::BIGINT AS n_bytes,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
    FROM documents
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (binary→binary mapInPandas, blobs never
    shuffle); fake resizer truncates the payload to width*height bytes."""
    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    resized = MM.resize_media(
        media, 8, 8, resizer=lambda b, w, h: b[: w * h]
    )
    return resized.select(
        "media_id", F.length("content").cast("long").alias("n_bytes"), "width", "height"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs (band join — the scale path for near-dup)
# ---------------------------------------------------------------------------

def _lsh_pairs_oracle(num_hashes: int = 16, bands: int = 4, shingle_n: int = 3) -> str:
    from datas_spark.oracle_shared import minhash_oracle as _minhash_oracle

    rows = num_hashes // bands
    sig_cte = _minhash_oracle(num_hashes, shingle_n).strip()
    # empty-shingle docs (all-sentinel signature) never band — mirrors
    # minhash_lsh_pairs' short-doc exclusion
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, minhash, {b} AS band, "
        f"md5(array_to_string(minhash[{b * rows + 1}:{b * rows + rows}], ',')) AS bucket "
        f"FROM sig WHERE minhash[1] < {D.MINHASH_P}"
        for b in range(bands)
    )
    return f"""
    WITH sig AS ({sig_cte}),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.minhash AS ma, r.minhash AS mb
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b,
      list_sum(list_transform(range(1, {num_hashes} + 1),
               i -> CASE WHEN ma[i] = mb[i] THEN 1 ELSE 0 END))::DOUBLE
        / {num_hashes} AS est_jaccard
    FROM cand
    """


@register("minhash_lsh_pairs", oracle=_lsh_pairs_oracle())
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (SURVEY §2.9; replaces the FAISS
    intent at get_info.py:142-146): banded signatures → equi-join on
    (band, bucket) — shuffle rows n·bands, never O(n²)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# §2.2 P9 LESS stub + §2.6 L1 random + §2.4 F3 PCA
# ---------------------------------------------------------------------------

@register(
    "less_score_stub",
    oracle="SELECT doc_id, length(lang)::DOUBLE AS less_score FROM documents",
)
def q_less_score_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (score_pipeline_less.py:54-57): the reference ships a
    len(output) placeholder; mirrored as a documented stub."""
    docs = read_table(spark, sf_dir, "documents").withColumn("output", F.col("lang"))
    return SC.less_scorer_stub(docs).select("doc_id", "less_score")


@register("random_sample")  # rows-only: F.rand stream has no DuckDB twin
def q_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 (main.py:56-67 RandomSampling): seeded uniform k of N."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return S.random_sampling(docs, k=50, seed=42)


_PCA_K, _PCA_ITERS, _PCA_DIM = 2, 10, 64


def _pca_exact_oracle() -> str:
    from datas_spark.oracle_shared import pca_power_cte_sql

    ctes = pca_power_cte_sql(
        "embeddings", "vec_id", "embedding", _PCA_K, _PCA_DIM, _PCA_ITERS
    )
    folds = ", ".join(
        f"list_reduce(list_prepend(0.0, list(p.cx * v{c}.val ORDER BY p.i)),"
        f" (a, b) -> a + b) AS s{c}"
        for c in range(1, _PCA_K + 1)
    )
    joins = " ".join(
        f"JOIN pw_v{c}_{_PCA_ITERS} v{c} ON v{c}.i = p.i"
        for c in range(1, _PCA_K + 1)
    )
    outs = ", ".join(
        f"round(s{c} / 1000000.0, 6) AS pc{c}" for c in range(1, _PCA_K + 1)
    )
    return f"""
    WITH {ctes},
    proj AS (
      SELECT q.id, t.i, (q.q[t.i]::DOUBLE - (si.s::DOUBLE / n.n)) AS cx
      FROM pw_q q CROSS JOIN pw_ix t
      JOIN pw_si si ON si.i = t.i CROSS JOIN pw_n n
    ), agg AS (
      SELECT p.id, {folds}
      FROM proj p {joins}
      GROUP BY p.id
    )
    SELECT id AS vec_id, {outs} FROM agg
    """


@register("pca_embeddings", oracle=_pca_exact_oracle())
def q_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (main.py:362-364), hash-checked end to end
    (`clustering.pca_exact_project`, VERDICT r9 #5): exact-integer
    scatter moments (one combinable aggregate), d x d matrix on the
    driver (tiny-collect), k=2 components by fixed-round md5-seeded
    power iteration with e12 per-round resync and Rayleigh deflation,
    map-side projection against the component literals. The oracle
    replays moments, every iteration, the deflation, and the
    projection. MLlib PCA stays as `pca_embeddings_mllib`
    (rows-only — SVD sign/rotation has no SQL replay)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return C.pca_exact_project(
        emb, "vec_id", "embedding",
        k=_PCA_K, dim=_PCA_DIM, n_iters=_PCA_ITERS,
    )


@register("pca_embeddings_mllib")  # rows-only: SVD sign/rotation not SQL-expressible
def q_pca_embeddings_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 via MLlib PCA k=4 — the library twin of `pca_embeddings`;
    invariants (dims, variance order) unit-tested. The component
    array is serialized to JSON so even the rows-only driver check never
    sees an unhashable list cell."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = C.pca_reduce(emb, "embedding", k=4)
    return out.select("vec_id", F.to_json(F.struct("pca")).alias("pca_json"))


# ---------------------------------------------------------------------------
# §2.4 F1 — embedding extraction (proxy) + sliding-window events agg
# ---------------------------------------------------------------------------

def _emb_proxy_oracle(dim: int = 4) -> str:
    # each float32 component is widened to double, scaled by 1e6 and
    # FLOORED (floor is round-toward--inf in both engines; a plain
    # bigint cast truncates in Spark but rounds in DuckDB) so the CSV
    # projection is integer-exact on both sides
    comps = ",\n       ".join(
        f"floor(((('0x' || substr(md5(substr(text, 1, 80) || '#emb{i}'), 1, 8))::BIGINT"
        f" / 4294967296.0 - 0.5)::FLOAT)::DOUBLE * 1000000)::BIGINT"
        for i in range(dim)
    )
    return f"""
    SELECT doc_id, array_to_string([{comps}], ',') AS emb_csv
    FROM documents
    """


@register("embedding_proxy", oracle=_emb_proxy_oracle())
def q_embedding_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (get_info.py:69-83, main.py:340-349): per-row embedding column
    — model proxied by the deterministic hash embedding; the real model
    swaps in behind the same ArrayType(Float) contract (pandas_udf).
    Components are projected to a floor-scaled int CSV scalar for the
    driver's pandas canonicalizer (list cells are unhashable there)."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "__ins", F.substring("text", 1, 80)
    )
    emb = C.embedding_proxy(docs, "__ins", dim=4)
    return emb.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "emb_ins_alone",
                lambda x: F.floor(x.cast("double") * 1000000).cast("string"),
            ),
        ).alias("emb_csv"),
    )


@register(
    "multi_scorer_wide",
    oracle=f"""
    SELECT doc_id,
      length(lang)::BIGINT AS lenth,
      {{rw}} AS score_rw,
      1.0 + 99.0 * {{ppl}} AS ppl_ins_alone
    FROM documents
    """.format(
        rw="(('0x' || substr(md5({p} || lang), 1, 8))::BIGINT / 4294967296.0)".format(
            p="__PROMPT__"
        ),
        ppl="(('0x' || substr(md5(__PROMPT__), 1, 8))::BIGINT / 4294967296.0)",
    ).replace(
        "__PROMPT__",
        """'Below is an instruction that describes a task. Write a response that appropriately completes the request.

### Instruction:
' || substr(text, 1, 80) || '

### Response:'""",
    ),
)
def q_multi_scorer_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:35-38 multi-scorer surface: several scorers composed in
    ONE plan, one column each (SURVEY §1.4 'one column per scorer' —
    prunable, oracle-checkable; the map view is ``with_scores_map``)."""
    from datas_spark.registry_scoring import _pseudo_alpaca

    df = _pseudo_alpaca(spark, sf_dir)
    df = SC.length_scorer(df)
    df = SC.reward_scorer_proxy(df)
    df = SC.perplexity_scorer_proxy(df)
    return df.select("doc_id", "lenth", "score_rw", "ppl_ins_alone")


@register(
    "order_totals_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1, 2
    """,
)
def q_order_totals_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational join discipline demo (beyond the reference — SURVEY
    §2.9 notes it has no user-table joins): fact⋈fact shuffle join on
    custkey, then dimension joins that MUST broadcast (nation/region are
    tiny); filter pushed to the orders scan; partial agg map-side."""
    from pyspark.sql.functions import broadcast

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "score_distribution",
    oracle="""
    SELECT lang,
      count(*) AS n,
      round(avg(n_chars), 4) AS mean_score,
      round(stddev_samp(n_chars), 4) AS std_score,
      min(n_chars) AS min_score,
      max(n_chars) AS max_score,
      round(quantile_cont(n_chars, 0.5), 4) AS median_score
    FROM documents GROUP BY lang
    """,
)
def q_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's absent ``analysis.data_analysis`` surface
    (main.py:18 import): per-group score summary stats — count, mean,
    sample stddev, min/max, exact median — one pass, partial-agg
    friendly except the exact median (documented approx swap at 100 TB)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("n_chars"), 4).alias("mean_score"),
        F.round(F.stddev_samp("n_chars"), 4).alias("std_score"),
        F.min("n_chars").alias("min_score"),
        F.max("n_chars").alias("max_score"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_score"),
    )


_FLAGSHIP_K, _FLAGSHIP_ROUNDS, _FLAGSHIP_DIM = 5, 3, 8


def _flagship_lloyd_oracle() -> str:
    """The flagship's FULL replay: proxy embedding, the unrolled Lloyd
    rounds, proxy ppl confidence, per-cluster percentile band, stride
    sample, gather — the whole reference main.py §3.1 flow in one
    DuckDB statement."""
    from datas_spark.functions import text as T
    from datas_spark.oracle_shared import lloyd_cte_sql

    unit = "(('0x' || substr(md5({key}), 1, 8))::BIGINT / 4294967296.0)"
    comps = ", ".join(
        f"({unit.format(key=f'''instruction || '#emb{i}' ''')} - 0.5)::FLOAT"
        for i in range(_FLAGSHIP_DIM)
    )
    prefix = T.PROMPT_NO_INPUT.split("{instruction}")[0]
    prompt = f"'{prefix}' || instruction || '\n\n### Response:'"
    lloyd = lloyd_cte_sql(
        "emb", "doc_id", "e", _FLAGSHIP_K, _FLAGSHIP_ROUNDS, _FLAGSHIP_DIM,
        prefix="fl",
    )
    return f"""
    WITH pseudo AS (
      SELECT doc_id, substr(text, 1, 80) AS instruction FROM documents
    ), emb AS (
      SELECT doc_id, instruction, [{comps}] AS e FROM pseudo
    ), {lloyd},
    conf AS (
      SELECT p.doc_id, a.cluster,
             1.0 + 99.0 * {unit.format(key=prompt)} AS conf
      FROM pseudo p JOIN fl_asg a ON a.id = p.doc_id
    ), stats AS (
      SELECT cluster, count(*) AS cnt,
             quantile_cont(conf, 0.25) AS lo, quantile_cont(conf, 0.75) AS hi
      FROM conf GROUP BY cluster
    ), band AS (
      SELECT c.* FROM conf c JOIN stats s USING (cluster)
      WHERE s.cnt < 5 OR (c.conf >= s.lo AND c.conf <= s.hi)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS m
      FROM band
    ), strided AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY rn) AS k
      FROM ranked WHERE (rn - 1) % greatest(m // 5, 1) = 0
    )
    SELECT d.* FROM documents d
    SEMI JOIN (SELECT doc_id FROM strided WHERE k <= 5) s
      ON d.doc_id = s.doc_id
    """


@register("datas_full_pipeline", oracle=_flagship_lloyd_oracle())
def q_datas_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE main.py flow as one lazy composition
    (SURVEY §3.1), hash-checked end to end: pseudo-alpaca projection →
    embedding column (proxy F1) → deterministic unrolled Lloyd KMeans
    k=5 (F2, `clustering.kmeans_lloyd` — the oracle replays every
    round) → per-cluster ppl confidence (P5 proxy) → percentile-band
    filter + stride sample (A1+A2) → gather original rows (A3). The
    MLlib-KMeans twin stays as `datas_full_pipeline_mllib`
    (rows-only)."""
    docs = read_table(spark, sf_dir, "documents")
    pseudo = docs.select(
        "doc_id",
        F.substring("text", 1, 80).alias("instruction"),
        F.lit("").alias("input"),
    )
    emb = C.embedding_proxy(pseudo, "instruction", dim=_FLAGSHIP_DIM)
    # instruction/input ride the map-only assignment pass out of the
    # trainer (carry_cols) — no pseudo ⋈ assignments re-join shuffling
    # the text payload by id (round 11, guide §8)
    asg, _ = C.kmeans_lloyd(
        emb, "doc_id", "emb_ins_alone",
        k=_FLAGSHIP_K, n_rounds=_FLAGSHIP_ROUNDS,
        carry_cols=["instruction", "input"],
    )
    clustered = asg
    scored = SC.perplexity_scorer_proxy(clustered)
    selected = S.middle_confidence_sample(
        scored, "cluster", "ppl_ins_alone", "doc_id", n=5
    )
    return S.gather_rows(docs, selected, "doc_id")


@register("datas_full_pipeline_mllib")  # rows-only: MLlib KMeans inside
def q_datas_full_pipeline_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship flow with the seed-pinned MLlib KMeans quantizer —
    the library twin of `datas_full_pipeline` (k-means|| init is not
    SQL-replayable; invariants unit-tested)."""
    docs = read_table(spark, sf_dir, "documents")
    pseudo = docs.select(
        "doc_id",
        F.substring("text", 1, 80).alias("instruction"),
        F.lit("").alias("input"),
    )
    emb = C.embedding_proxy(pseudo, "instruction", dim=8)
    clustered = C.kmeans_cluster(emb, "emb_ins_alone", k=5, seed=0)
    scored = SC.perplexity_scorer_proxy(clustered)
    selected = S.middle_confidence_sample(
        scored, "cluster", "ppl_ins_alone", "doc_id", n=5
    )
    return S.gather_rows(docs, selected, "doc_id")


@register(
    "events_sliding_window",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
      FROM events
    )
    SELECT window_start, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM w GROUP BY 1
    """,
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min window counts — a hopping ``window`` groupBy
    (each event lands in exactly two windows)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )

# ==================================================================
# former registry66.py
# ==================================================================

"""Registry batch 66 — merging diagnostics and DARE: per-layer task-
vector cosine (the interference report) and drop-and-rescale
sparsified merging (public method, md5-deterministic mask).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import taskvector as TV
from datas_spark.registry_scoring import _ckpt_f, _ckpt_p
from datas_spark.registry_core import register

_DARE_P = 0.9


@register(
    "task_vector_cosine",
    oracle="""
    WITH j AS (
      SELECT p_brand AS key,
             round(p_retailprice * 100)::BIGINT AS a,
             round(p_size::DOUBLE * 100)::BIGINT AS b
      FROM part
    ), g AS (
      SELECT key, count(*)::BIGINT AS n,
             sum(a * b)::BIGINT AS dot,
             sum(a * a)::BIGINT AS na, sum(b * b)::BIGINT AS nb
      FROM j GROUP BY key
    )
    SELECT key, n,
           round(CASE WHEN na > 0 AND nb > 0
                 THEN dot / (sqrt(na) * sqrt(nb)) END, 6) AS cos
    FROM g
    """,
)
def q_task_vector_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer cosine between the two synthetic checkpoints' vectors
    — the interference diagnostic run BEFORE choosing a merge method
    (anti-aligned layers are where naive averaging cancels skills and
    TIES/DARE earn their keep). Exact integer-cents moments."""
    return TV.tv_cosine_by_key(_ckpt_f(spark, sf_dir), _ckpt_p(spark, sf_dir))


@register(
    "dare_merge_apply",
    oracle=f"""
    WITH tv AS (
      SELECT p_brand AS key, p_partkey AS idx,
             p_retailprice - p_size AS value
      FROM part
    ), kept AS (
      SELECT key, idx, value / {1.0 - _DARE_P} AS value
      FROM tv
      WHERE ('0x' || substr(md5('dare:' || key || ':' || idx::VARCHAR), 1, 8))
              ::BIGINT / 4294967296.0 >= {_DARE_P}
    )
    SELECT p.p_brand AS key, p.p_partkey AS idx,
           round(p.p_size + coalesce(k.value, 0), 6) AS value
    FROM part p LEFT JOIN kept k
      ON k.key = p.p_brand AND k.idx = p.p_partkey
    """,
)
def q_dare_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DARE merging end-to-end: drop {_DARE_P:.0%} of the task vector
    by the md5 mask, rescale survivors ×{1 / (1 - _DARE_P):.0f}, apply
    to the pretrained checkpoint — absent rows are zeros (sparse
    long-table convention), so the apply is a left join + coalesce.
    The drop protocol replays verbatim in the oracle."""
    tv = TV.task_vector(_ckpt_f(spark, sf_dir), _ckpt_p(spark, sf_dir))
    sparse = TV.dare_drop_rescale(tv, p=_DARE_P, seed="dare")
    pre = _ckpt_p(spark, sf_dir)
    joined = pre.join(
        sparse.select("key", "idx", F.col("value").alias("__tv")),
        ["key", "idx"],
        "left",
    )
    return joined.select(
        "key",
        "idx",
        F.round(F.col("value") + F.coalesce("__tv", F.lit(0.0)), 6).alias("value"),
    )


# ---------------------------------------------------------------------------
# round-9: Fisher-weighted merging (VERDICT r8 "Next round" #5) — the
# published successor to plain/TIES merging (Matena & Raffel 2022).
# The gradient table comes through the SAME iterator-pandas_udf capture
# the LESS influence dataflow uses (reference intent get_info.py:43-68);
# models are the per-slice mean-gradient directions, Fishers the
# per-slice mean squared gradients, everything e12-exact so the oracle
# bit-replays capture -> moments -> merge end-to-end.
# ---------------------------------------------------------------------------

_FWM_PARAMS = ["layer0.proj", "layer1.proj"]
_FWM_DIM = 4
_FWM_MD5 = "(('0x' || substr(md5({key}), 1, 8))::BIGINT / 4294967296.0)"

_FWM_ORACLE = f"""
    WITH p AS (
      SELECT unnest([{', '.join(repr(p) for p in _FWM_PARAMS)}]) AS key
    ), ix AS (
      SELECT unnest(range(0, {_FWM_DIM})) AS idx
    ), g AS (
      SELECT d.doc_id, p.key, ix.idx,
        CAST(round((2.0 * {_FWM_MD5.format(key="d.text || '#' || p.key || '#' || ix.idx")}
          - 1.0) * 1e12) AS BIGINT) AS ge
      FROM documents d CROSS JOIN p CROSS JOIN ix
    ), mom AS (
      SELECT (doc_id % 2)::INT AS slice, key, idx,
             count(*)::BIGINT AS n,
             sum(ge::HUGEINT) AS sg,
             sum(ge::HUGEINT * ge) AS sgg
      FROM g GROUP BY 1, 2, 3
    ), mf AS (
      SELECT slice, key, idx,
             sg::DOUBLE / n::DOUBLE / 1e12 AS theta,
             sgg::DOUBLE / n::DOUBLE / 1e24 AS fisher
      FROM mom
    ), a AS (SELECT * FROM mf WHERE slice = 0),
       b AS (SELECT * FROM mf WHERE slice = 1)
    SELECT a.key, a.idx,
           round(((0.6 * a.fisher) * a.theta + (0.4 * b.fisher) * b.theta)
                 / ((0.6 * a.fisher) + (0.4 * b.fisher)), 6) AS value
    FROM a JOIN b ON a.key = b.key AND a.idx = b.idx
"""


@register("fisher_weighted_merge", oracle=_FWM_ORACLE)
def q_fisher_weighted_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-weighted averaging of two 'fine-tunes'
    (`taskvector.fisher_weighted_merge`, Matena & Raffel 2022 eq. 7):
    per-example gradients captured through the real Arrow pandas_udf
    boundary (T12, deterministic md5 fake) split into two halves; each
    half's mean gradient is its model delta and its mean SQUARED
    gradient its diagonal Fisher (`fisher_from_grads`, e12-exact
    decimal-38 moments); the merge weights each parameter by λ_k·F_k.
    ONE gradient capture, one moment aggregate per slice, one
    merge shuffle — certainty-weighted averaging priced for tables,
    not host RAM."""
    from datas_spark.io.sources import read_table
    from datas_spark.operators.scoring import grad_capture_long

    docs = read_table(spark, sf_dir, "documents")
    grads = grad_capture_long(
        docs, "doc_id", "text", _FWM_PARAMS, _FWM_DIM
    ).select(
        "doc_id", F.col("param").alias("key"), "idx", "value"
    )
    q = 1e12
    ge = F.round(F.col("value") * q).cast("long").cast("decimal(38,0)")
    models, fishers = [], []
    for s in (0, 1):
        sl = grads.where(F.col("doc_id") % 2 == s)
        mom = sl.groupBy("key", "idx").agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(ge).alias("__sg"),
            F.sum(ge * ge).alias("__sgg"),
        )
        models.append(
            mom.select(
                "key",
                "idx",
                (
                    F.col("__sg").cast("double")
                    / F.col("__n").cast("double")
                    / F.lit(q)
                ).alias("value"),
            )
        )
        fishers.append(
            mom.select(
                "key",
                "idx",
                (
                    F.col("__sgg").cast("double")
                    / F.col("__n").cast("double")
                    / F.lit(q * q)
                ).alias("fisher"),
            )
        )
    merged = TV.fisher_weighted_merge(models, fishers, coefs=[0.6, 0.4])
    return merged.select(
        "key", "idx", F.round("value", 6).alias("value")
    )


# ---------------------------------------------------------------------------
# round-10: SLERP checkpoint interpolation (VERDICT r9 "Next round" #4)
# — completes the merging family (linear apply = merging.py:83-95;
# TIES/DARE/Fisher done). Per-layer angle from e6-exact integer
# moments, one acos + sin per layer, 12-dp weight resync.
# ---------------------------------------------------------------------------

_SLERP_T = 0.3

_SLERP_ORACLE = f"""
    WITH j AS (
      SELECT p_brand AS key, p_partkey AS idx,
             p_retailprice::DOUBLE AS av, p_size::DOUBLE AS bv,
             CAST(round(p_retailprice::DOUBLE * 1000000.0) AS BIGINT) AS qa,
             CAST(round(p_size::DOUBLE * 1000000.0) AS BIGINT) AS qb
      FROM part
    ), m AS (
      SELECT key,
             sum(qa::HUGEINT * qb) AS dot,
             sum(qa::HUGEINT * qa) AS na,
             sum(qb::HUGEINT * qb) AS nb
      FROM j GROUP BY key
    ), ang AS (
      SELECT key, na, nb,
             acos(least(greatest(
               dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)),
               -1.0), 1.0)) AS omega
      FROM m
    ), w AS (
      SELECT key,
        CASE WHEN na <= 0 OR nb <= 0 OR sin(omega) < 1e-6
             THEN {1.0 - _SLERP_T}
             ELSE round(sin({1.0 - _SLERP_T} * omega) / sin(omega), 12)
        END AS wa,
        CASE WHEN na <= 0 OR nb <= 0 OR sin(omega) < 1e-6
             THEN {_SLERP_T}
             ELSE round(sin({_SLERP_T} * omega) / sin(omega), 12)
        END AS wb
      FROM ang
    )
    SELECT j.key, j.idx, (w.wa * j.av) + (w.wb * j.bv) AS value
    FROM j JOIN w USING (key)
"""


@register("slerp_merge", oracle=_SLERP_ORACLE)
def q_slerp_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer spherical interpolation between the two synthetic
    checkpoints (`taskvector.slerp_merge`, t=0.3): layer angle
    from e6-quantized integer dot/norm moments (exact on any
    partitioning), sin-ratio weights resynced at 12 dp, degenerate
    layers falling back to lerp — the oracle replays moments, angle,
    weights, and the apply."""
    return TV.slerp_merge(
        _ckpt_f(spark, sf_dir), _ckpt_p(spark, sf_dir), t=_SLERP_T
    )
