"""LLM postprocess stage (clean / classify / anonymize).

The reference optionally ships each page's markdown to an OpenAI model
and salvages a JSON object out of whatever text comes back
(``app/llm.py:165-235``; salvage parsing ``llm.py:26-90``), with
NEVER-FAIL semantics — an LLM error never fails the crawl
(``app/main.py:461-464``). The result is the ``LLMResult`` struct on
the response (``app/schemas.py:248-257``).

This engine has no network, so the *model call* is a deterministic
template transport (``mint_llm_response``) that produces every salvage
shape the reference's parser handles — clean JSON, code-fenced JSON,
JSON buried in chatter, plain non-JSON text, and an empty response.
The SALVAGE PIPELINE itself is faithful:

- ``strip_code_fences``        (llm.py:26-34)
- ``extract_json_object``      (llm.py:37-70): direct parse, then the
  first ``{...}`` block containing ``"cleaned_markdown"``, then the
  outermost brace span
- ``flatten_cleaned_markdown`` (llm.py:73-90): unwrap nested
  JSON/fences inside the cleaned field
- defaults on any failure: cleaned = original markdown,
  classification = 'Metabeschreibung', anonymized = the request flag
  (llm.py:143-162)

Classification is the reference's 3-label scheme
(Bildungsinhalt | Metabeschreibung | Fehler/Infoseite, llm.py:13-16),
decided deterministically: error page -> Fehler/Infoseite, substantial
markdown -> Bildungsinhalt, else Metabeschreibung.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

_FENCE_RE = re.compile(r"^```[a-zA-Z0-9_-]*\n([\s\S]*?)```\s*$")
_BRACE_RE = re.compile(r"\{[\s\S]*?\}")

CLS_CONTENT = "Bildungsinhalt"
CLS_META = "Metabeschreibung"
CLS_ERROR = "Fehler/Infoseite"
CONTENT_MIN_CHARS = 200  # markdown length cut for 'Bildungsinhalt'


def strip_code_fences(text: str) -> str:
    """Remove one surrounding triple-backtick fence if present."""
    if not isinstance(text, str):
        return text
    m = _FENCE_RE.match(text.strip())
    return m.group(1).strip() if m else text


def extract_json_object(s: str) -> dict:
    """Best-effort JSON object from arbitrary LLM text: fences stripped,
    full parse, then the first brace block holding 'cleaned_markdown',
    then the outermost brace span. {} when nothing parses."""
    if not isinstance(s, str):
        return {}
    s1 = strip_code_fences(s)
    try:
        obj = json.loads(s1)
        return obj if isinstance(obj, dict) else {}
    except Exception:
        pass
    try:
        for m in _BRACE_RE.finditer(s1):
            block = m.group(0)
            if '"cleaned_markdown"' in block:
                try:
                    return json.loads(block)
                except Exception:
                    continue
        lo, hi = s1.find("{"), s1.rfind("}")
        if lo != -1 and hi > lo:
            obj = json.loads(s1[lo:hi + 1])
            return obj if isinstance(obj, dict) else {}
    except Exception:
        pass
    return {}


def flatten_cleaned_markdown(value: str) -> str:
    """cleaned_markdown must be plain markdown — unwrap a fenced or
    nested-JSON value."""
    if not isinstance(value, str):
        return value
    text = strip_code_fences(value)
    try:
        obj = json.loads(text)
        if isinstance(obj, dict) and "cleaned_markdown" in obj:
            return strip_code_fences(obj.get("cleaned_markdown") or "")
    except Exception:
        pass
    return text


def salvage(markdown: str, content: str, anonymize: bool) -> tuple[str, str, bool]:
    """The reference's response handling (llm.py:143-162): parse if
    possible, fall back to the raw text if it looks like markdown,
    never raise. Returns (cleaned, classification, anonymized)."""
    cleaned = markdown
    classification = CLS_META
    anonymized = anonymize
    try:
        data = extract_json_object(content or "")
        if data:
            new_cleaned = data.get("cleaned_markdown")
            if isinstance(new_cleaned, str):
                cleaned = flatten_cleaned_markdown(new_cleaned) or cleaned
            classification = data.get("classification", classification) or classification
            anonymized = bool(data.get("anonymized", anonymized))
        else:
            raise ValueError("no_json")
    except Exception:
        if isinstance(content, str) and content.strip():
            cleaned = strip_code_fences(content.strip())
    return cleaned, classification, anonymized


def classify_markdown(markdown: str, error_page: bool) -> str:
    """Deterministic 3-label cascade standing in for the model's
    judgment (labels + intent from llm.py:13-16)."""
    if error_page:
        return CLS_ERROR
    if len(markdown or "") >= CONTENT_MIN_CHARS:
        return CLS_CONTENT
    return CLS_META


DEFAULT_PROMPT_TAG = "CLEANED"


def prompt_tag(prompt: str | None) -> str:
    """The per-request ``llm_clean_prompt`` override (reference
    ``app/schemas.py:194-226``: a custom template replaces the default
    cleaning instruction) is modeled by its observable effect — the
    prompt's leading token becomes the transformation marker the
    deterministic transport applies, so a custom prompt produces a
    different (oracle-checkable) cleaned output, exactly as a different
    instruction would steer a real model."""
    if not isinstance(prompt, str) or not prompt.strip():
        return DEFAULT_PROMPT_TAG
    return prompt.strip().split()[0]


def mint_llm_response(markdown: str, page_id: int, error_page: bool,
                      anonymize: bool, tag: str = DEFAULT_PROMPT_TAG) -> str:
    """Deterministic fake transport: one of five response shapes the
    salvage parser must handle, keyed on page_id."""
    case = page_id % 5
    if case == 3:
        return f"Here is the cleaned text:\n{tag} " + markdown
    if case == 4:
        return ""
    payload = json.dumps({
        "cleaned_markdown": f"{tag} " + markdown,
        "classification": classify_markdown(markdown, error_page),
        "anonymized": anonymize,
    })
    if case == 0:
        return payload
    if case == 1:
        return "```json\n" + payload + "```"
    return "Sure! Here is the JSON you asked for:\n" + payload + "\nHope this helps."


def postprocess_one(markdown: str, page_id: int, error_page: bool,
                    anonymize: bool, prompt: str | None = None) -> dict:
    """One row through transport + salvage. NEVER raises
    (main.py:461-464: LLM errors must not escalate)."""
    try:
        content = mint_llm_response(
            markdown, page_id, error_page, anonymize, prompt_tag(prompt)
        )
        cleaned, classification, anonymized = salvage(markdown, content, anonymize)
        tokens = len(markdown) // 4 if content else None
        return {
            "cleaned_markdown": cleaned,
            "classification": classification,
            "anonymized": anonymized,
            "tokens_used": tokens,
        }
    except Exception:
        return {
            "cleaned_markdown": markdown,
            "classification": CLS_META,
            "anonymized": anonymize,
            "tokens_used": None,
        }


LLM_RESULT_FIELDS = [
    T.StructField("cleaned_markdown", T.StringType(), True),
    T.StructField("classification", T.StringType(), True),
    T.StructField("anonymized", T.BooleanType(), True),
    T.StructField("tokens_used", T.IntegerType(), True),
]
LLM_RESULT_TYPE = T.StructType(LLM_RESULT_FIELDS)


def llm_postprocess_stage(df: DataFrame) -> DataFrame:
    """Arrow-batched postprocess pass: appends the LLMResult struct
    column ``llm`` (CrawlResponse.llm shape, schemas.py:248-257). Reads
    the request-column contract by name: ``markdown``, ``page_id``,
    ``error_page_detected`` and the per-request ``llm_anonymize``,
    ``llm_postprocess`` and ``llm_prompt`` columns (the convert stage
    carries them through). ``llm_postprocess`` is the gate
    (schemas.py:194-204): rows whose flag is false or NULL get a NULL
    ``llm`` struct — the reference only runs the LLM when the request
    asks for it (main.py:437-454). A NULL ``llm_anonymize`` means the
    reference default false; a NULL ``llm_prompt`` the default
    template. The output schema is the input's plus ``llm``."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("llm", LLM_RESULT_TYPE, True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["llm"] = [
                # pd.isna: a NULL anonymize flag (nullable-boolean NA)
                # means "request didn't set it" -> reference default
                # False (schemas.py:205)
                postprocess_one(
                    md, int(pid), bool(e),
                    bool(a) if not pd.isna(a) else False, p,
                )
                if (not pd.isna(en)) and bool(en)
                else None
                for md, pid, e, a, p, en in zip(
                    pdf["markdown"], pdf["page_id"],
                    pdf["error_page_detected"], pdf["llm_anonymize"],
                    pdf["llm_prompt"], pdf["llm_postprocess"],
                )
            ]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
