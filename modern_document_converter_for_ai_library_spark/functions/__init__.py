from .hashing import (
    tokens_col,
    shingle_hashes_col,
    lsh_plane_signs,
)
from .spans import (
    multizone_spans,
    limit_spans,
    doc_text_col,
    is_probably_image_doc,
)

__all__ = [
    "tokens_col",
    "shingle_hashes_col",
    "lsh_plane_signs",
    "multizone_spans",
    "limit_spans",
    "doc_text_col",
    "is_probably_image_doc",
]
