"""Configuration surface mirroring the reference's config module.

Parity: reference ``crawl4ai_llm/config.py:11-107`` declares
``StorageConfig`` / ``CrawlerConfig`` / ``LLMConfig`` / ``AppConfig``
(Pydantic). The engine equivalents are plain dataclasses (no Pydantic in
the sandbox) with the same field names and defaults, plus builders that
hand a configured engine object back:

- ``StorageConfig.build(spark)`` → a ``ProductStore`` rooted at ``path``
  (``use_uuid`` maps to ``deterministic_ids=not use_uuid``; the file-lock
  knobs are retired — the snapshot catalog replaces locking, SURVEY §3.2 —
  and kept only so reference call sites construct without error).
- ``CrawlerConfig.to_crawl_config()`` → the frontier engine's CrawlConfig
  (delay/max_retries map 1:1, the reference's verified semantics;
  user_agent feeds robots-group matching).
- ``LLMConfig`` is declared for call-site compatibility but the engine
  performs no LLM extraction (out of scope per SURVEY §7.3) — building it
  raises NotImplementedError, loudly, instead of pretending.

Note: the reference's own factory that consumes StorageConfig is broken
(``storage/factory.py:55-57`` passes the Pydantic object where a path is
expected — SURVEY §5.2); the engine's ``build`` is the working analog.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

_DEFAULT_UA = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36"
)


@dataclass
class StorageConfig:
    """ref config.py:11-32."""

    type: str = "json"  # accepted for parity; the engine always targets parquet
    path: str = "./data"
    use_uuid: bool = True
    create_if_missing: bool = True
    lock_timeout: float = 30.0  # retired: snapshot commits replace file locks
    filename_template: str = "{product_id}.json"  # retired: parquet layout
    options: dict[str, Any] = field(default_factory=dict)

    def build(self, spark):
        """→ ProductStore rooted at ``path`` (the working analog of the
        reference's broken factory.create_storage, factory.py:55-57)."""
        import os

        from crawl4ai_llm_spark.errors import StorageConnectionError
        from crawl4ai_llm_spark.storage.store import ProductStore

        if not self.create_if_missing and not os.path.isdir(self.path):
            raise StorageConnectionError(
                f"storage path missing and create_if_missing=False: {self.path}"
            )
        return ProductStore(
            spark,
            self.path,
            deterministic_ids=not self.use_uuid,
            **self.options,
        )


@dataclass
class CrawlerConfig:
    """ref config.py:35-63."""

    user_agent: str = _DEFAULT_UA
    timeout: float = 30.0
    max_retries: int = 3
    delay: float = 1.0
    headers: dict[str, str] = field(default_factory=dict)
    proxy: str | None = None
    verify_ssl: bool = True
    options: dict[str, Any] = field(default_factory=dict)

    def to_crawl_config(self, **engine_kwargs):
        """→ frontier CrawlConfig: delay and max_retries carry the
        reference's verified semantics (SURVEY §2.7 C5/C8); wave/skew/dedup
        parameters are engine-side and passed through engine_kwargs."""
        from crawl4ai_llm_spark.frontier.engine import CrawlConfig

        return CrawlConfig(
            delay=self.delay, max_retries=self.max_retries, **engine_kwargs
        )


@dataclass
class LLMConfig:
    """ref config.py:66-91 — declared for call-site parity only."""

    provider: str = "openai"
    model: str = "gpt-4"
    api_key: str | None = None
    temperature: float = 0.0
    max_tokens: int = 4000
    top_p: float = 1.0
    cache_dir: str = "./cache"
    options: dict[str, Any] = field(default_factory=dict)

    def build(self):
        raise NotImplementedError(
            "LLM extraction is outside the engine's scope (SURVEY §7.3): the "
            "engine covers the storage/query/crawl data plane"
        )


@dataclass
class AppConfig:
    """ref config.py:94-107."""

    storage: StorageConfig = field(default_factory=StorageConfig)
    crawler: CrawlerConfig = field(default_factory=CrawlerConfig)
    llm: LLMConfig = field(default_factory=LLMConfig)
    log_level: str = "INFO"
    settings: dict[str, Any] = field(default_factory=dict)
