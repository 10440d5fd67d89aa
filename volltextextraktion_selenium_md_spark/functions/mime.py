"""MIME mapping, UA rotation, proxy normalization, truncation.

Small scalar operators from the reference's utils/http layer, kept
JVM-side (literal map + WHEN cascades), no UDFs.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference MIME_TO_EXT (app/utils.py:158-175), 16 entries, default .bin
MIME_TO_EXT = {
    "text/html": ".html",
    "application/xhtml+xml": ".html",
    "application/pdf": ".pdf",
    "application/msword": ".doc",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document": ".docx",
    "application/vnd.ms-powerpoint": ".ppt",
    "application/vnd.openxmlformats-officedocument.presentationml.presentation": ".pptx",
    "application/vnd.ms-excel": ".xls",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet": ".xlsx",
    "text/plain": ".txt",
    "application/json": ".json",
    "image/png": ".png",
    "image/jpeg": ".jpg",
    "image/gif": ".gif",
    "image/webp": ".webp",
}

def guess_extension(content_type: Column, default: str = ".bin") -> Column:
    """``guess_extension`` (app/utils.py:177-181): strip ';charset',
    lowercase, map, default '.bin'."""
    mime_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(MIME_TO_EXT.items())]
    )
    ctype = F.lower(F.trim(F.split_part(content_type, F.lit(";"), F.lit(1))))
    return F.coalesce(mime_map[ctype], F.lit(default))


# reference UA_POOL (app/utils.py:201-209); pick_user_agent uses
# random.choice which is irreproducible — the engine uses a
# hash-seeded deterministic pick instead (SURVEY §2.2 P2).
UA_POOL = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/127.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/127.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/127.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:128.0) Gecko/20100101 Firefox/128.0",
]


def pick_user_agent(url: Column) -> Column:
    """Deterministic UA 'rotation': pool index = xxhash64(url) mod pool
    size (replay-stable, unlike the reference's random.choice)."""
    idx = F.pmod(F.xxhash64(url), F.lit(len(UA_POOL))).cast("int")
    ua = F.array(*[F.lit(u) for u in UA_POOL])
    return F.element_at(ua, idx + 1)


def normalize_proxy(proxy: Column) -> Column:
    """``normalize_proxy`` (app/utils.py:184-198): ''/'string' -> NULL,
    scheme must be http/https/socks5/socks5h/socks4. urlparse parity:
    the scheme is whatever precedes the first ':' when it matches RFC
    3986 scheme chars — no '://' required, so 'socks5:host:1080' is
    accepted exactly as ``urlparse`` accepts it, while a bare scheme
    word like 'socks5' (no colon, hence no scheme) returns NULL."""
    s = F.trim(F.coalesce(proxy, F.lit("")))
    scheme = F.lower(F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    return F.when(
        (s == "") | (F.lower(s) == "string"), F.lit(None).cast("string")
    ).when(
        scheme.isin("http", "https", "socks5", "socks5h", "socks4"), s
    ).otherwise(F.lit(None).cast("string"))


def media_policy_markdown(
    content_type: Column, policy: Column, n_bytes: Column
) -> Column:
    """C6 media policy (app/converter.py:155-158, 253-282): audio/video
    rows render per the request's media_conversion_policy —
    skip -> placeholder, none -> '', metadata -> metadata block (the
    reference shells out to ffprobe; the engine emits the known fields
    deterministically), full -> transcription placeholder (markitdown's
    media path is out of engine scope). Non-media rows -> NULL."""
    ct = F.lower(F.trim(F.split_part(content_type, F.lit(";"), F.lit(1))))
    is_media = ct.startswith("audio/") | ct.startswith("video/")
    meta_block = F.concat(
        F.lit('# Media Metadata\n\n```json\n{"content_type": "'),
        ct,
        F.lit('", "size_bytes": '),
        n_bytes.cast("string"),
        F.lit("}\n```"),
    )
    skip_block = F.concat(
        F.lit("# Media Content\n\n[media content skipped: "), ct, F.lit("]")
    )
    full_block = F.concat(
        F.lit("# Media Content\n\n[media transcription not available: "),
        ct,
        F.lit("]"),
    )
    return (
        F.when(~is_media, F.lit(None).cast("string"))
        .when(policy == "none", F.lit(""))
        .when(policy == "metadata", meta_block)
        .when(policy == "full", full_block)
        .otherwise(skip_block)  # 'skip' is the reference default
    )


def media_policy_markdown_py(
    content_type: str, policy: str, n_bytes: int
) -> str | None:
    """Scalar twin of `media_policy_markdown` (same templates, shared
    by the convert chain's in-engine audio/video branch —
    app/converter.py:155-158, 253-282). Non-media -> None."""
    ct = (content_type or "").split(";")[0].strip().lower()
    if not (ct.startswith("audio/") or ct.startswith("video/")):
        return None
    if policy == "none":
        return ""
    if policy == "metadata":
        return (
            '# Media Metadata\n\n```json\n{"content_type": "' + ct
            + '", "size_bytes": ' + str(n_bytes) + "}\n```"
        )
    if policy == "full":
        return f"# Media Content\n\n[media transcription not available: {ct}]"
    return f"# Media Content\n\n[media content skipped: {ct}]"
