"""Layered runtime config (reference D28, src/config/ ~1.2k LoC).

Precedence identical to the reference (src/config/sources.rs:1-111):
env (``OTLP2PARQUET_*``) > TOML file (explicit path, ``OTLP2PARQUET_CONFIG``,
``OTLP2PARQUET_CONFIG_CONTENT``, ``./config.toml``, ``./.otlp2parquet.toml``)
> platform defaults (src/config/platform.rs:15-21). Validate-or-die with
actionable messages (src/config/validation.rs:9-188).

Storage backends (D24, src/writer/storage.rs): `fs` maps to a plain path;
`s3`/`r2` map to `s3a://` URLs plus the Hadoop confs Spark needs and the
`AWS_*` variables the pyarrow FileSystem lane reads (endpoint / region /
keys) — applied by `apply_storage_conf`.
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field
from typing import Any

DEFAULTS = {
    "batch": {"max_rows": 200_000},  # platform.rs:16
    "request": {"max_payload_bytes": 8 * 1024 * 1024},  # platform.rs:19
    "storage": {
        "backend": "fs",  # fs | s3 | r2
        "output": "./data",
        "prefix": "",
        "bucket": "",
        "region": "",
        "endpoint": "",
        "account_id": "",
        "access_key_id": "",
        "secret_access_key": "",
        "path_style": True,
    },
    "server": {"port": 4318},
    "engine": {"layout": "parity"},
}


class ConfigError(ValueError):
    """Invalid configuration — fail fast at startup (reference validation.rs)."""


@dataclass(frozen=True)
class RuntimeConfig:
    batch: dict[str, Any] = field(default_factory=dict)
    request: dict[str, Any] = field(default_factory=dict)
    storage: dict[str, Any] = field(default_factory=dict)
    server: dict[str, Any] = field(default_factory=dict)
    engine: dict[str, Any] = field(default_factory=dict)

    def output_root(self) -> str:
        """Resolved base path for the partitioned writer (D24 + prefix)."""
        s = self.storage
        prefix = s["prefix"].strip("/")
        if s["backend"] == "fs":
            return os.path.join(s["output"], prefix) if prefix else s["output"]
        base = f"s3a://{s['bucket']}"
        return f"{base}/{prefix}" if prefix else base


def _deep_merge(base: dict, over: dict) -> dict:
    out = dict(base)
    for k, v in over.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


# env var -> (section, key, type); mirrors reference env_overrides.rs:17-197
_ENV_MAP = {
    "OTLP2PARQUET_BATCH_MAX_ROWS": ("batch", "max_rows", int),
    "OTLP2PARQUET_MAX_PAYLOAD_BYTES": ("request", "max_payload_bytes", int),
    "OTLP2PARQUET_STORAGE_BACKEND": ("storage", "backend", str),
    "OTLP2PARQUET_OUTPUT": ("storage", "output", str),
    "OTLP2PARQUET_PREFIX": ("storage", "prefix", str),
    "OTLP2PARQUET_BUCKET": ("storage", "bucket", str),
    "OTLP2PARQUET_REGION": ("storage", "region", str),
    "OTLP2PARQUET_ENDPOINT": ("storage", "endpoint", str),
    "OTLP2PARQUET_ACCOUNT_ID": ("storage", "account_id", str),
    "OTLP2PARQUET_ACCESS_KEY_ID": ("storage", "access_key_id", str),
    "OTLP2PARQUET_SECRET_ACCESS_KEY": ("storage", "secret_access_key", str),
    "OTLP2PARQUET_PORT": ("server", "port", int),
    "OTLP2PARQUET_LAYOUT": ("engine", "layout", str),
}


def _coerce(raw: str, typ: type, var: str) -> Any:
    if typ is int:
        try:
            return int(raw)
        except ValueError as e:
            raise ConfigError(f"{var}: expected an integer, got {raw!r}") from e
    return raw


def _load_toml(explicit_path: str | None, env: dict[str, str]) -> dict:
    """TOML source resolution order (reference sources.rs:1-111)."""
    if explicit_path:
        if not os.path.exists(explicit_path):
            raise ConfigError(f"config file not found: {explicit_path}")
        return tomllib.loads(open(explicit_path).read())
    if env.get("OTLP2PARQUET_CONFIG"):
        p = env["OTLP2PARQUET_CONFIG"]
        if not os.path.exists(p):
            raise ConfigError(f"OTLP2PARQUET_CONFIG points at a missing file: {p}")
        return tomllib.loads(open(p).read())
    if env.get("OTLP2PARQUET_CONFIG_CONTENT"):
        return tomllib.loads(env["OTLP2PARQUET_CONFIG_CONTENT"])
    for candidate in ("./config.toml", "./.otlp2parquet.toml"):
        if os.path.exists(candidate):
            return tomllib.loads(open(candidate).read())
    return {}


def validate(cfg: RuntimeConfig) -> RuntimeConfig:
    """Actionable validation errors (reference validation.rs:9-188)."""
    if cfg.batch["max_rows"] <= 0:
        raise ConfigError("batch.max_rows must be > 0 (e.g. 200000)")
    if cfg.request["max_payload_bytes"] <= 0:
        raise ConfigError("request.max_payload_bytes must be > 0 (e.g. 8388608 for 8 MiB)")
    s = cfg.storage
    if s["backend"] not in ("fs", "s3", "r2"):
        raise ConfigError(f"storage.backend must be fs|s3|r2, got {s['backend']!r}")
    if s["backend"] in ("s3", "r2") and not s["bucket"]:
        raise ConfigError(f"storage.bucket is required for backend {s['backend']!r}")
    if s["backend"] == "r2" and not s["account_id"] and not s["endpoint"]:
        raise ConfigError("storage.account_id (or explicit endpoint) is required for r2")
    if cfg.engine["layout"] not in ("parity", "native"):
        raise ConfigError(f"engine.layout must be parity|native, got {cfg.engine['layout']!r}")
    if s["backend"] in ("s3", "r2") and cfg.engine["layout"] == "parity":
        # parity writes go through pyarrow (write.rs-compatible file names),
        # so the object-store path needs pyarrow built with S3 — fail fast at
        # startup instead of silently writing to executor-local disks.
        try:
            from pyarrow.fs import S3FileSystem  # noqa: F401
        except ImportError as e:
            raise ConfigError(
                "layout='parity' with an s3/r2 backend requires pyarrow S3 "
                "support (pyarrow.fs.S3FileSystem); use layout='native' or "
                "install pyarrow with S3 enabled"
            ) from e
    if not (0 < cfg.server["port"] < 65536):
        raise ConfigError(f"server.port out of range: {cfg.server['port']}")
    return cfg


def load_config(
    config_path: str | None = None,
    overrides: dict[str, dict[str, Any]] | None = None,
    env: dict[str, str] | None = None,
) -> RuntimeConfig:
    """env > TOML > defaults (+ CLI `overrides` above everything, D28)."""
    env = dict(os.environ if env is None else env)
    merged = _deep_merge(DEFAULTS, _load_toml(config_path, env))
    for var, (section, key, typ) in _ENV_MAP.items():
        if var in env:
            merged = _deep_merge(merged, {section: {key: _coerce(env[var], typ, var)}})
    if overrides:
        merged = _deep_merge(merged, overrides)
    cfg = RuntimeConfig(
        batch=merged["batch"],
        request=merged["request"],
        storage=merged["storage"],
        server=merged["server"],
        engine=merged["engine"],
    )
    return validate(cfg)


def apply_storage_conf(spark, cfg: RuntimeConfig) -> None:
    """The s3/r2 backend's `storage` section, handed to both clients (D24
    twin of storage.rs:12-104): Hadoop `fs.s3a.*` confs for Spark's
    listing and the native layout's sink, and the `AWS_*` variables
    pyarrow reads for every payload read, parity write, compaction and
    quarantine file — put in `sparkContext.environment`, which PySpark
    ships with every Python function to the executors, and in this
    process's environment for the driver-side calls. The fs backend needs
    nothing. R2 endpoint = `https://{account}.r2.cloudflarestorage.com`."""
    s = cfg.storage
    if s["backend"] == "fs":
        return
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    endpoint = s["endpoint"]
    if s["backend"] == "r2" and not endpoint:
        endpoint = f"https://{s['account_id']}.r2.cloudflarestorage.com"
    for hadoop_key, env_var, value in (
        ("fs.s3a.endpoint", "AWS_ENDPOINT_URL", endpoint),
        ("fs.s3a.endpoint.region", "AWS_REGION", s["region"]),
        ("fs.s3a.access.key", "AWS_ACCESS_KEY_ID", s["access_key_id"]),
        ("fs.s3a.secret.key", "AWS_SECRET_ACCESS_KEY", s["secret_access_key"]),
    ):
        if value:
            hconf.set(hadoop_key, value)
            sc.environment[env_var] = os.environ[env_var] = value
    if s["path_style"]:
        hconf.set("fs.s3a.path.style.access", "true")
