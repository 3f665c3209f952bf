from .strings import (
    conditional_array_wrap,
    html_to_text,
    decode_entities,
    host_strip,
    null_default_array,
    slugify,
    split_to_array,
)
from .dates import iso8601, padded_day, padded_month, year_str
from .permalink import blogname_of, compile_permalink
from . import urls

__all__ = [
    "blogname_of",
    "conditional_array_wrap",
    "decode_entities",
    "host_strip",
    "html_to_text",
    "null_default_array",
    "slugify",
    "split_to_array",
    "iso8601",
    "padded_day",
    "padded_month",
    "year_str",
    "compile_permalink",
    "urls",
]
