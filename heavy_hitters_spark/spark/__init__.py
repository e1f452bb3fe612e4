from .aggregate import build_sketch, build_sketch_treeaggregate, partial_states, tree_merge
from .fused import build_sketch_checkpointed
from .keys import hosts, key_id, key_id_col, tokens, xxh64
from .session import get_spark

__all__ = [
    "build_sketch",
    "build_sketch_checkpointed",
    "build_sketch_treeaggregate",
    "partial_states",
    "tree_merge",
    "get_spark",
    "key_id",
    "key_id_col",
    "tokens",
    "hosts",
    "xxh64",
]
