from navigator_data_ingest_spark.functions.text import (
    slugify_col,
    source_url_ok,
    watermark_text_col,
)
from navigator_data_ingest_spark.functions.content import (
    detect_content_type,
    upload_file_name,
    trimmed_name_col,
)
from navigator_data_ingest_spark.functions.hashing import (
    hex_prefix_to_long,
    seeded_hash,
    tokens_col,
    shingles_col,
)
from navigator_data_ingest_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)

__all__ = [
    "slugify_col",
    "source_url_ok",
    "watermark_text_col",
    "detect_content_type",
    "upload_file_name",
    "trimmed_name_col",
    "hex_prefix_to_long",
    "seeded_hash",
    "tokens_col",
    "shingles_col",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
