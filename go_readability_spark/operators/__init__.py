from .clusters import duplicate_clusters  # noqa: F401
from .dedup import (  # noqa: F401
    compact_index,
    exact_duplicates,
    minhash_dedup_pairs,
    minhash_index,
    minhash_lsh_candidates,
    minhash_probe,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    shingle_table,
    simhash_table,
    word_shingles,
)
from .hosts import filter_blocked_hosts, host_of_url, host_stats  # noqa: F401
from .snapshots import latest_snapshot, snapshot_history  # noqa: F401
from .sharding import shard_assignments, shard_stats, write_sharded  # noqa: F401
from .sampling import mix_corpus, stratified_sample  # noqa: F401
from .ivf import assign_buckets, ivf_topk, train_ivf_centroids  # noqa: F401
from .classifier import (  # noqa: F401
    score_with_weights,
    train_quality_classifier,
)
from .semdedup import semantic_dedup  # noqa: F401
from .winnowing import winnowing_fingerprints, winnowing_overlap_pairs  # noqa: F401
from .similarity import (  # noqa: F401
    brute_force_topk,
    cosine_near_pairs,
    cosine_near_pairs_exact,
    lsh_bucketed_topk,
    with_unit_vectors,
)
from .linkgraph import (  # noqa: F401
    anchor_text_stats,
    edges_from_wat,
    extract_anchor_texts,
    extract_links,
    host_graph,
    host_rank,
    link_edges,
    resolve_links,
)
from .dsir import (  # noqa: F401
    dsir_weights,
)
from .sitemaps import (  # noqa: F401
    parse_sitemap,
)
from .robots import (  # noqa: F401
    crawl_delays,
    filter_by_robots,
    frontier_schedule,
    robots_rules,
    robots_verdicts,
)
from .revisits import (  # noqa: F401
    resolve_revisits,
)
from .bloom import (  # noqa: F401
    bloom_build,
    bloom_build_sharded,
    bloom_maybe_seen_sharded,
    bloom_merge_sharded,
    bloom_store_exists,
    bloom_store_prune,
    bloom_store_read,
    bloom_store_record,
    bloom_store_write,
    filter_unseen_sharded,
)
