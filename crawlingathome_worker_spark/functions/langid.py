"""Deterministic language identification heuristic (pycld2 stand-in).

The reference keeps captions iff pycld2 says English (crawlingathome.py:58-63),
retrying on printable-only text when cld2 raises on bad bytes. pycld2 is not in
this container, so detection is a pinned stopword/ASCII-ratio heuristic. The
oracle and the Spark pandas UDF share this function, so the en-only filter is
bit-identical between engine and oracle by construction.

Also the `lang_id` text-analysis operator over the `documents` table (driver
mandate: language-ID as a first-class pipeline op).
"""

from __future__ import annotations

import re

from .textfix import remove_bad_chars

_TOKEN_RE = re.compile(r"[a-zA-ZÀ-ɏ']+")

# Small, pinned stopword inventories. Tie-break order below is deterministic.
STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset(
        """the a an and or of to in is are was were be been with for on at by this
        that it from as but not have has had you your they their he she we our i
        my his her its what which who will would can could there here out up down
        photo image picture view free stock""".split()
    ),
    "de": frozenset(
        """der die das und oder von zu im ist sind war mit für auf bei ein eine
        einen nicht ich du wir sie es den dem des auch aus nach über bild foto
        kostenlos ansicht""".split()
    ),
    "fr": frozenset(
        """le la les et ou de du des à dans est sont était avec pour sur par un
        une ne pas je tu nous vous ils elle il ce cette qui que photo image
        gratuit vue""".split()
    ),
    "es": frozenset(
        """el la los las y o de del a en es son era con para sobre por un una no
        yo tú nosotros ellos ella que este esta quien foto imagen gratis
        vista""".split()
    ),
}
_LANG_ORDER = ("en", "de", "fr", "es")


def detect_lang(text: str) -> str:
    """Return a language code for `text`; "un" when unknown.

    Mirrors the reference's control flow: if the text contains non-printable
    characters, detection runs on the printable-only projection (the cld2
    exception-retry path, crawlingathome.py:58-61).
    """
    if not text.isprintable():
        text = remove_bad_chars(text)
    if not text:
        return "un"
    tokens = [t.lower() for t in _TOKEN_RE.findall(text)]
    if not tokens:
        return "un"
    ascii_chars = sum(1 for c in text if ord(c) < 128)
    ascii_ratio = ascii_chars / len(text)
    scores = {lang: sum(1 for t in tokens if t in sw) for lang, sw in STOPWORDS.items()}
    best = max(_LANG_ORDER, key=lambda lang: (scores[lang], -_LANG_ORDER.index(lang)))
    if scores[best] == 0:
        # No stopword evidence: mostly-ASCII text defaults to English (matching
        # cld2's bias on short alt text), otherwise unknown.
        return "en" if ascii_ratio >= 0.9 else "un"
    return best

