from .text import (  # noqa: F401
    bpe_token_count,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    with_text_features,
    ws_token_count,
)
from .mojibake import (  # noqa: F401
    fix_mojibake_text,
    mojibake_flag,
    with_fixed_text,
    with_mojibake_repaired,
    with_normalized_text,
)
