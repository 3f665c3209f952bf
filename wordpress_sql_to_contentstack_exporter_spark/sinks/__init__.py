from .keyed_json import merge_keyed_json, write_keyed_json, write_master_mapping
from .dlq import write_dlq
from .layout import zorder_key

__all__ = [
    "merge_keyed_json",
    "write_keyed_json",
    "write_master_mapping",
    "write_dlq",
    "zorder_key",
]
