"""Extraction configuration.

Mirrors the knob surface of the reference ``src/Configuration.php:17-69``
(11 scalar options + the PSR-3 logger, here stdlib-``logging``-shaped with a
null default — at 10^12-row scale per-row logging belongs in metrics
columns, but the injection surface itself is parity:
``src/Configuration.php:107-124``).  Frozen dataclass: the three flags the
reference's retry loop mutates (``stripUnlikelyCandidates``, ``weightClasses``,
``cleanConditionally`` — ``src/Readability.php:182-190``) become *loop-local*
variables inside the kernel, never mutated config state, so one immutable
config object can be closure-captured into a Spark UDF safely.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Mapping


class _NullLogger:
    """PSR-3 NullLogger analogue (src/Configuration.php:109-112): returned
    when no logger is injected; every level is a no-op."""

    def debug(self, *a: Any, **k: Any) -> None: ...
    def info(self, *a: Any, **k: Any) -> None: ...
    def warning(self, *a: Any, **k: Any) -> None: ...
    def error(self, *a: Any, **k: Any) -> None: ...
    def critical(self, *a: Any, **k: Any) -> None: ...  # PSR-3 emergency


NULL_LOGGER = _NullLogger()


@dataclass(frozen=True)
class Configuration:
    # src/Configuration.php defaults (lines cited per field)
    max_top_candidates: int = 5          # :19
    char_threshold: int = 500            # :23
    article_byline: bool = False         # :27
    strip_unlikely_candidates: bool = True   # :31
    clean_conditionally: bool = True     # :35
    weight_classes: bool = True          # :39
    fix_relative_urls: bool = False      # :43
    substitute_entities: bool = False    # :47
    normalize_entities: bool = False     # :51
    summon_cthulhu: bool = False         # :55 (pre-parse regex <script> strip)
    original_url: str = "http://fakehost/test/test.html"  # :59
    #: stdlib-logging-shaped (debug/info/warning/error/critical); excluded
    #: from eq/hash so configs stay usable as cache keys / UDF closures
    logger: Any = field(default=None, compare=False)

    def get_logger(self) -> Any:
        """src/Configuration.php:107-114 — null logger when none injected."""
        return self.logger if self.logger is not None else NULL_LOGGER

    _CAMEL = {
        "maxTopCandidates": "max_top_candidates",
        "charThreshold": "char_threshold",
        "articleByLine": "article_byline",
        "ArticleByLine": "article_byline",
        "stripUnlikelyCandidates": "strip_unlikely_candidates",
        "cleanConditionally": "clean_conditionally",
        "weightClasses": "weight_classes",
        "fixRelativeURLs": "fix_relative_urls",
        "FixRelativeURLs": "fix_relative_urls",
        "substituteEntities": "substitute_entities",
        "SubstituteEntities": "substitute_entities",
        "normalizeEntities": "normalize_entities",
        "summonCthulhu": "summon_cthulhu",
        "SummonCthulhu": "summon_cthulhu",
        "originalURL": "original_url",
        "OriginalURL": "original_url",
    }

    @classmethod
    def from_params(cls, params: Mapping[str, Any]) -> "Configuration":
        """Build from a reference-style camelCase dict (the shape of the
        fixture ``config.json`` files, ``src/Configuration.php:75-92``).
        Unknown keys are ignored (the reference logs a warning)."""
        kwargs = {}
        for k, v in params.items():
            snake = cls._CAMEL.get(k, k)
            if snake in cls.__dataclass_fields__ and not snake.startswith("_"):
                kwargs[snake] = v
        return cls(**kwargs)

    def with_overrides(self, **kwargs: Any) -> "Configuration":
        return replace(self, **kwargs)
