from .asof import asof_join, assert_no_leakage  # noqa: F401
from .audio import extract_audio_features  # noqa: F401
from .dedup import (  # noqa: F401
    connected_components,
    dedup_groups,
    embedding_near_dup_blocked,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash_signatures,
)
from .features import (  # noqa: F401
    caption_bpe_tokenize,
    embed_caption_column,
    extract_image_features,
    image_text_similarity,
)
from .similarity import cosine_topk, ivf_ann_topk, lsh_ann_topk  # noqa: F401
from .temporal_features import (  # noqa: F401
    consecutive_pair_embeddings,
    consecutive_pair_features,
    consecutive_pair_flow_fields,
    stack_mean_pool,
    zero_shot_classify,
)
from .video import extract_video_frames  # noqa: F401
from .text import curate_corpus, langid_ngram, quality_score  # noqa: F401
from .windows import (  # noqa: F401
    backfill,
    lag_lead,
    resample,
    sessionize,
    sliding_stacks,
    top_k,
    tumbling_window_agg,
)
