"""Image extraction — deterministic re-specification of extractPics.

The reference (extractor/pics.go:14-56) fetches every <img src> over the network
and picks the largest by response byte count — unavailable and nondeterministic in
a table-scan engine (its own test only asserts set membership, pics_test.go:39).
Deterministic substitute, documented in FIXTURES.md §3: `images` is the
lexicographically sorted src list (matches pics.go:42 exactly);
`lead_image_url` is the first image in document order.
"""

from __future__ import annotations

from ..htmldom import find_all
from ..htmldom.node import Node
from ..htmldom.parser import TOK_START, _tokenize


def extract_pics(article_root: Node):
    """Returns (main_image, all_images, ok) from the rich-article DOM."""
    srcs = []
    for img in find_all(article_root, "img"):
        src = img.get_attr("src")
        if src is not None:
            srcs.append(src)
    return pick_pics(srcs)


def pick_pics(srcs: list):
    """(main_image, all_images, ok) from the img srcs in document order."""
    if not srcs:
        return "", None, False
    all_images = sorted(srcs)
    main_image = srcs[0]  # deterministic: first in document order
    return main_image, all_images, True


def img_start_tag_srcs(html: str) -> list:
    """The first src of every <img> start tag, in token order. Equal to the
    srcs extract_pics finds in parse(html) as long as the tree builder
    neither drops, renames nor reorders an img — the caller's job to
    ensure. The tokenizer keeps an attribute's first occurrence, as the
    tree does; raw-text, RCDATA and comment content yields no start tag."""
    srcs = []
    for kind, name, attrs, _ in _tokenize(html):
        if kind == TOK_START and name == "img":
            for k, v in attrs:
                if k == "src":
                    srcs.append(v)
                    break
    return srcs
