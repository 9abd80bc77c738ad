"""Pure-Python extraction kernel (zero Spark imports).

Everything here runs inside row generators on the Arrow boundary
(``operators.adaptive.map_rows``) on executors, but is unit-testable standalone against the reference's
golden parser corpus.
"""

from .body import assemble_body, body_to_plaintext, empty_body
from .css import CSSSelector
from .dom import Comment, Element, parse_html
from .extract import Extractor, ParseContext, PublisherSpec, VersionSpec, build_context, run_extraction
from .generics import (
    apply_result_filter,
    apply_substitution_pattern_over_list,
    free_access_from_ld,
    generic_author_parsing,
    generic_date_parsing,
    generic_text_extraction,
    generic_topic_parsing,
    parse_title_from_root,
)
from .images import Image, ImageVersion, image_extraction, parse_srcset
from .jsonld import LinkedData, extract_linked_data
from .meta import harvest_meta
from .text import (
    break_preserved_text,
    generic_nodes_to_text,
    normalize_whitespace,
    strip_nodes_to_text,
)
from .transform import serialize_html, transform_breaks_to_tag
from .xpath import XPath

__all__ = [
    "CSSSelector",
    "Comment",
    "Element",
    "Extractor",
    "Image",
    "ImageVersion",
    "LinkedData",
    "ParseContext",
    "PublisherSpec",
    "VersionSpec",
    "XPath",
    "apply_result_filter",
    "apply_substitution_pattern_over_list",
    "assemble_body",
    "body_to_plaintext",
    "break_preserved_text",
    "build_context",
    "empty_body",
    "extract_linked_data",
    "free_access_from_ld",
    "generic_author_parsing",
    "generic_date_parsing",
    "generic_nodes_to_text",
    "generic_text_extraction",
    "generic_topic_parsing",
    "harvest_meta",
    "image_extraction",
    "normalize_whitespace",
    "parse_html",
    "parse_srcset",
    "parse_title_from_root",
    "run_extraction",
    "serialize_html",
    "strip_nodes_to_text",
    "transform_breaks_to_tag",
]
