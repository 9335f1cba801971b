from .build import IndexBuilder, IndexPaths  # noqa: F401
from .codec import (  # noqa: F401
    BLOCK_SIZE,
    decode_docs,
    decode_positions,
    decode_row,
    encode_groups,
)
