"""Training-data pipeline operators (engine additions beyond the reference).

The reference library (todofixthis/filters) validates single values; a
100 TB training-data pipeline also needs corpus-level operators:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), approximate similarity search, text analysis
(language-ID, quality scoring, token counting, fingerprinting), and
multimodal column plumbing.  All are DataFrame-native; every hash is
md5-derived so results are portable across engines (the DuckDB oracle in
``__spark_entry__.py`` reproduces them bit-for-bit).
"""

from filters_spark.pipeline.curation import (
    boilerplate_texts,
    domain_counts,
    domain_filter,
    extract_urls,
    html_strip,
    ngram_overlap,
    redact_pii,
    repetition_stats,
    text_sanity,
)
from filters_spark.pipeline.dedup import (
    release,
    dedup_groups,
    dedup_resolve,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    remove_repeated_spans,
    repeated_spans,
    simhash,
    simhash_pairs,
    word_shingles,
)
from filters_spark.pipeline.packing import pack_plan, pack_sequences
from filters_spark.pipeline.sampling import (
    deterministic_sample,
    deterministic_topn,
    split_assign,
    split_column,
    stratified_sample,
    temperature_weights,
)
from filters_spark.pipeline.sinks import (
    shard_column,
    write_training_shards,
)
from filters_spark.pipeline.similarity import (
    cosine_sim,
    cosine_topk,
    auto_planes,
    embedding_near_dups,
    ivf_assign,
    ivf_centroids,
    ivf_refine,
    ivf_topk,
    srp_bucket,
    srp_topk,
)
from filters_spark.pipeline.textstats import (
    fingerprint,
    lang_id,
    pmi_collocations,
    quality_score,
    tfidf_top_terms,
    unigram_logprob,
    token_counts,
    token_entropy,
)
from filters_spark.pipeline.multimodal import (
    MEDIA_META_SCHEMA,
    attach_media_meta,
    byte_features,
)
from filters_spark.pipeline.tokenize import (
    bpe_encode,
    bpe_train,
    word_freqs,
)
from filters_spark.pipeline.timeseries import (
    asof_join,
    interval_join,
    sessionize,
    time_rollup,
)

__all__ = [
    "MEDIA_META_SCHEMA",
    "asof_join",
    "boilerplate_texts",
    "text_sanity",
    "attach_media_meta",
    "bpe_encode",
    "bpe_train",
    "byte_features",
    "cosine_sim",
    "cosine_topk",
    "dedup_groups",
    "dedup_resolve",
    "deterministic_sample",
    "domain_counts",
    "domain_filter",
    "extract_urls",
    "html_strip",
    "deterministic_topn",
    "auto_planes",
    "embedding_near_dups",
    "exact_dedup",
    "fingerprint",
    "interval_join",
    "jaccard_pairs",
    "lang_id",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_overlap",
    "quality_score",
    "redact_pii",
    "release",
    "remove_repeated_spans",
    "repeated_spans",
    "ivf_assign",
    "ivf_centroids",
    "ivf_refine",
    "ivf_topk",
    "pack_plan",
    "pack_sequences",
    "pmi_collocations",
    "repetition_stats",
    "sessionize",
    "shard_column",
    "simhash",
    "simhash_pairs",
    "split_assign",
    "split_column",
    "stratified_sample",
    "temperature_weights",
    "tfidf_top_terms",
    "unigram_logprob",
    "time_rollup",
    "word_freqs",
    "srp_bucket",
    "srp_topk",
    "token_counts",
    "token_entropy",
    "write_training_shards",
    "word_shingles",
]
