from .tables import TABLE_NAMES, load_table, register_views
from .text import read_documents_as_corpus, read_text_corpus

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "register_views",
    "read_text_corpus",
    "read_documents_as_corpus",
]
