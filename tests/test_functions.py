"""Shared-semantics unit tests: text normalization, langid, URL functions.

These are the modules BOTH the oracle and the Spark UDFs import; their behavior
pins the caption byte-equality contract (BASELINE.json input_hint)."""

from crawlingathome_worker_spark.functions.langid import detect_lang
from crawlingathome_worker_spark.functions.textfix import (
    fix_text,
    normalize_caption,
    remove_bad_chars,
)
from crawlingathome_worker_spark.functions.urls import (
    absolutize,
    canonicalize,
    host_of,
    path_of,
    url_dirname,
)


def test_remove_bad_chars_exact_reference_semantics():
    # crawlingathome.py:33-34
    assert remove_bad_chars("a\x00b\x07c\nd") == "abcd"
    assert remove_bad_chars("clean text") == "clean text"


def test_fix_text_repairs_mojibake():
    assert fix_text("cafÃ©") == "café"
    assert fix_text("a â€“ b") == "a – b"
    assert fix_text("plain") == "plain"


def test_normalize_caption_pipeline():
    # crawlingathome.py:56: ftfy.fix_text(alt.replace("\n", " ")).strip()
    assert normalize_caption("  hello\nworld  ") == "hello world"
    assert normalize_caption("\n\n") == ""


def test_detect_lang():
    assert detect_lang("the dog and the cat in a photo") == "en"
    assert detect_lang("der hund und die katze mit foto") == "de"
    assert detect_lang("le chat et le chien dans la photo") == "fr"
    assert detect_lang("el perro y el gato en la foto") == "es"
    assert detect_lang("你好世界") == "un"
    assert detect_lang("") == "un"
    # printable-retry path (crawlingathome.py:58-61)
    assert detect_lang("the dog\x00 and the cat") == "en"


def test_url_functions():
    # os.path.dirname semantics (crawlingathome.py:47)
    assert url_dirname("http://h.com/a/b/page.html") == "http://h.com/a/b"
    # urljoin only when not http-prefixed (crawlingathome.py:66-67)
    assert absolutize("http://h.com/a/b/p.html", "x.jpg") == "http://h.com/a/x.jpg"
    assert absolutize("http://h.com/a/b/p.html", "/img/x.jpg") == "http://h.com/img/x.jpg"
    assert absolutize("http://h.com/a/b/p.html", "../img/x.jpg") == "http://h.com/img/x.jpg"
    assert absolutize("http://h.com/a/b/p.html", "https://z.com/i.png") == "https://z.com/i.png"


def test_canonicalize_rfc3986():
    # north_rule: lowercase scheme+host, strip fragment, drop default port, sort query
    assert canonicalize("HTTP://Ex.COM:80/p?b=2&a=1#f") == "http://ex.com/p?a=1&b=2"
    assert canonicalize("https://Ex.com:443/") == "https://ex.com/"
    assert canonicalize("https://ex.com:8443/x") == "https://ex.com:8443/x"
    assert canonicalize("http://ex.com") == "http://ex.com/"
    # collisions the frontier dedup relies on
    assert canonicalize("http://A.com/i.jpg#frag") == canonicalize("http://a.com/i.jpg")


def test_host_and_path():
    assert host_of("http://HOST07.Example.com/img/x.jpg") == "host07.example.com"
    assert path_of("http://h.com/img/x.jpg") == "/img/x.jpg"
    assert path_of("http://h.com") == "/"


def test_clip_score_udf_is_the_per_row_dot():
    """The UDF scores each row with clip_proxy_score (np.dot), the formula the
    oracles use. A batched float32 einsum sums in another order and differs
    by a few ulps on some pairs — enough to flip a 3-decimal rounding."""
    import numpy as np
    import pandas as pd

    from crawlingathome_worker_spark.functions.udfs import clip_proxy_score, clip_score_udf

    rng = np.random.default_rng(0)
    a = rng.standard_normal((200, 64)).astype(np.float32)
    b = rng.standard_normal((200, 64)).astype(np.float32)
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    want = np.array([clip_proxy_score(x, y) for x, y in zip(a, b)], dtype=np.float32)
    assert (np.einsum("ij,ij->i", a, b) != want).any()  # the pairs tell the two apart
    got = clip_score_udf.func(pd.Series(list(a)), pd.Series(list(b)))
    assert got.dtype == np.float32 and np.array_equal(got.to_numpy(), want)
    nulls = clip_score_udf.func(pd.Series([None, a[0]]), pd.Series([b[0], None]))
    assert nulls.tolist() == [0.0, 0.0]
