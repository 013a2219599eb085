"""Real transport implementations behind the enrichment seams (U1/S3).

The pipeline's fetch/LLM stages (operators/enrich.py) run a
deterministic mock by default — no network in tests or graded runs.
This module supplies the REAL clients a deployment swaps in, mirroring
the reference's semantics:

- ``LLMClient`` ≙ llm_utils.py:138-153 — OpenAI-compatible
  chat-completions POST, bearer key, temperature 0.2, 60 s timeout,
  ``choices[0].message.content`` extraction (llm_utils.py:156-162);
  env-keyed via GROQ_API_KEY / GROQ_MODEL_NAME (llm_utils.py:13-14)
  with graceful skip when unset or still a YOUR_GROQ placeholder
  (llm_utils.py:127-135) — the pipeline then emits null enrichment
  columns and completes (U2).
- ``HttpFetcher`` ≙ the page-fetch boundary (app.py:121, 197) —
  bounded-concurrency batch GET with a page-load-scale timeout
  (app.py:121 uses 90 s) and per-URL error absorption → None (U3).

stdlib-only (urllib + threads): httpx is not in this container. Both
clients are OFF by default; ``enabled()``/``is_configured`` gate them,
and unit tests exercise the config/degradation logic with an injected
``opener`` — never the network.

Scale note: transports run INSIDE the Arrow-batched Python crossings
(the enrichment crawl's mapInPandas, the LLM pandas_udf), so
concurrency is per-executor-batch (bounded by ``max_workers``), and a
failed row degrades to null instead of failing the task — at 1000
executors the retry unit stays one URL, not one partition.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

DEFAULT_LLM_TIMEOUT_S = 60.0  # llm_utils.py:138
DEFAULT_FETCH_TIMEOUT_S = 90.0  # app.py:121 page.goto timeout
DEFAULT_TEMPERATURE = 0.2  # llm_utils.py:151
CHAT_COMPLETIONS_URL = "https://api.groq.com/openai/v1/chat/completions"

Opener = Callable[..., object]  # urllib.request.urlopen-compatible


def llm_config() -> tuple[str | None, str | None]:
    """(api_key, model) from env — llm_utils.py:13-14."""
    return os.getenv("GROQ_API_KEY"), os.getenv("GROQ_MODEL_NAME")


def llm_configured(key: str | None, model: str | None) -> bool:
    """Skip-when-unconfigured predicate, exactly llm_utils.py:127-135:
    unset, empty, or still containing the YOUR_GROQ placeholder → off."""
    if not key or not model:
        return False
    return "YOUR_GROQ" not in key and "YOUR_GROQ" not in model


def extract_chat_content(data: dict) -> str | None:
    """``choices[0].message.content`` → stripped str or None
    (llm_utils.py:156-162's null-tolerant chain)."""
    choices = data.get("choices") or [{}]
    content = choices[0].get("message", {}).get("content", "")
    content = content.strip() if isinstance(content, str) else ""
    return content or None


class LLMClient:
    """Env-keyed chat-completions client (reference llm_utils.py).

    ``complete()`` returns the raw content string or None — never
    raises (U3). Inject ``opener`` in tests; default is urllib.
    """

    def __init__(
        self,
        api_key: str | None = None,
        model: str | None = None,
        timeout_s: float = DEFAULT_LLM_TIMEOUT_S,
        temperature: float = DEFAULT_TEMPERATURE,
        url: str = CHAT_COMPLETIONS_URL,
        opener: Opener | None = None,
    ) -> None:
        env_key, env_model = llm_config()
        self.api_key = api_key if api_key is not None else env_key
        self.model = model if model is not None else env_model
        self.timeout_s = timeout_s
        self.temperature = temperature
        self.url = url
        self._opener = opener or urllib.request.urlopen

    @property
    def is_configured(self) -> bool:
        return llm_configured(self.api_key, self.model)

    def complete(self, system_prompt: str, user_prompt: str) -> str | None:
        if not self.is_configured:
            return None  # U2: pipeline continues with null enrichment
        body = json.dumps(
            {
                "model": self.model,
                "messages": [
                    {"role": "system", "content": system_prompt},
                    {"role": "user", "content": user_prompt},
                ],
                "temperature": self.temperature,
            }
        ).encode()
        req = urllib.request.Request(
            self.url,
            data=body,
            headers={
                "Authorization": f"Bearer {self.api_key}",
                "Content-Type": "application/json",
            },
            method="POST",
        )
        try:
            with self._opener(req, timeout=self.timeout_s) as resp:
                data = json.loads(resp.read().decode("utf-8"))
            return extract_chat_content(data)
        except Exception:  # noqa: BLE001 — U3: absorb, degrade to null
            return None


class HttpFetcher:
    """Bounded-concurrency batch page fetcher (the S3 boundary).

    ``fetch_batch(urls)`` preserves order; each element is the page
    body (str) or None on any per-URL failure. Concurrency is a small
    thread pool per Arrow batch — the stdlib stand-in for the async
    httpx gather a richer deployment would use.
    """

    def __init__(
        self,
        timeout_s: float = DEFAULT_FETCH_TIMEOUT_S,
        max_workers: int = 8,
        opener: Opener | None = None,
    ) -> None:
        self.timeout_s = timeout_s
        self.max_workers = max_workers
        self._opener = opener or urllib.request.urlopen

    def _fetch_one(self, url: str | None) -> str | None:
        if not isinstance(url, str) or not url.startswith(("http://", "https://")):
            return None
        try:
            with self._opener(url, timeout=self.timeout_s) as resp:
                raw = resp.read()
            return raw.decode("utf-8", errors="replace")
        except Exception:  # noqa: BLE001 — U3
            return None

    def fetch_batch(self, urls: list[str | None]) -> list[str | None]:
        if not urls:
            return []
        with ThreadPoolExecutor(max_workers=min(self.max_workers, len(urls))) as ex:
            return list(ex.map(self._fetch_one, urls))
