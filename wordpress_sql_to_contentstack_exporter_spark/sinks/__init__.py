from .keyed_json import merge_keyed_json, write_keyed_json, write_master_mapping
from .dlq import write_dlq

__all__ = [
    "merge_keyed_json",
    "write_keyed_json",
    "write_master_mapping",
    "write_dlq",
]
