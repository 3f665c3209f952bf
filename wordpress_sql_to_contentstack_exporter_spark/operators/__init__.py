from .relational import (
    broadcast_lookup,
    decorrelated_group_concat,
    eav_pivot,
    hierarchy_parent_join,
)

__all__ = [
    "broadcast_lookup",
    "decorrelated_group_concat",
    "eav_pivot",
    "hierarchy_parent_join",
]
