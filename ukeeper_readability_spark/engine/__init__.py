from .extract import DEFAULT_SNIPPET_SIZE, extract_document, get_content
from .links import normalize_links
from .pics import extract_pics
from .readability import Document
from .sanitize_text import get_snippet, get_text, sanitize_html

__all__ = [
    "DEFAULT_SNIPPET_SIZE",
    "extract_document",
    "get_content",
    "normalize_links",
    "extract_pics",
    "Document",
    "get_snippet",
    "get_text",
    "sanitize_html",
]
