"""Environment-driven pipeline configuration.

Reference parity: `/root/reference/src/config.js:5-34` — dotenv loading
(`require('dotenv').config()`), a frozen config object reading
`VENA_API_URL` / `VENA_TEMPLATE_ID` / `VENA_USERNAME` / `VENA_PASSWORD`,
and `validateConfig` failing fast (hard exit) when credentials are absent.

Spark-first deltas:
- `validate_config` raises ``ConfigError`` instead of calling
  ``sys.exit`` — the CLI layer maps it to the reference's exit-1 +
  error-message behavior, while library callers keep a catchable error.
- no network default: the reference hardcodes its vendor's public SaaS
  URL as the api fallback; this engine has no such endpoint, so an unset
  `VENA_API_URL` means "no HTTP upload target" and the upload path
  falls back to the local Spark sink.
- the reference's retry and log-dir constants are not config fields:
  `http_sink` owns its retry policy (`DEFAULT_RETRIES`/`DEFAULT_BACKOFF_S`)
  and the CLI takes its audit dir from `--log-dir`.
- dotenv precedence matches the npm package: values already present in
  the process environment WIN over the `.env` file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

class ConfigError(ValueError):
    """Missing/invalid environment configuration (reference: hard exit at
    config.js:31-33)."""


@dataclass(frozen=True)
class EnvConfig:
    api_url: str = ""  # empty -> no HTTP upload target configured
    template_id: str = ""
    username: str = ""
    password: str = ""


def parse_env_file(text: str) -> dict[str, str]:
    """dotenv-subset parser: `KEY=VALUE` lines, optional `export ` prefix,
    full-line and trailing `#` comments, single/double-quoted values kept
    verbatim inside the quotes. Malformed lines are skipped (dotenv's
    behavior), not errors."""
    out: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if line.startswith("export "):
            line = line[len("export "):].lstrip()
        if "=" not in line:
            continue
        key, _, val = line.partition("=")
        key = key.strip()
        if not key or any(c in key for c in " \t"):
            continue
        val = val.strip()
        if len(val) >= 2 and val[0] == val[-1] and val[0] in ("'", '"'):
            val = val[1:-1]
        else:
            # unquoted values lose trailing comments
            val = val.split(" #", 1)[0].rstrip()
        out[key] = val
    return out


def load_config(
    env_file: str | None = ".env",
    environ: dict[str, str] | None = None,
) -> EnvConfig:
    """Load the frozen config: `.env` file (when present) merged under the
    process environment — existing environment variables win, exactly the
    npm dotenv default the reference relies on."""
    merged: dict[str, str] = {}
    if env_file and os.path.exists(env_file):
        with open(env_file) as f:
            merged.update(parse_env_file(f.read()))
    merged.update(environ if environ is not None else os.environ)
    return EnvConfig(
        api_url=merged.get("VENA_API_URL", ""),
        template_id=merged.get("VENA_TEMPLATE_ID", ""),
        username=merged.get("VENA_USERNAME", ""),
        password=merged.get("VENA_PASSWORD", ""),
    )


def validate_config(cfg: EnvConfig) -> None:
    """Fail-fast credential check (config.js:28-34): required whenever an
    HTTP upload target is configured."""
    if not cfg.username or not cfg.password:
        raise ConfigError(
            "Vena credentials not found in environment variables — "
            "set VENA_USERNAME and VENA_PASSWORD (or provide a .env file)"
        )
