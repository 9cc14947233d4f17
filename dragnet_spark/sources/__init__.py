from .synthesis import (  # noqa: F401
    make_document, synthesize_corpus,
)
