from .node import (  # noqa: F401
    COMMENT_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Comment,
    Document,
    Element,
    Node,
    Text,
)
from .parser import parse_html  # noqa: F401
from .serializer import serialize  # noqa: F401
