"""C1 — engine configuration with per-rule override merging.

Reference semantics (/root/reference/config/config.go:23-59,
logtrics.go:71-105): a global TOML config; each rule may override ONLY
the graphite/logging/expression sections — overriding
scriptfile/scriptdir/mode/tcp/udp raises an error (logtrics.go:98-99),
and unknown keys raise too (logtrics.go:101-103).  The merge deep-copies
the global config so rules never mutate each other.

Spark mapping: "graphite" generalizes to the sink/rollup settings
(tiers, chunk span, store root), "expression" to the rule's pattern,
"logging" stays logging.  Reader wiring (mode/tcp/udp) is session-level
here exactly as it is process-level there — hence still forbidden at
rule scope.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from typing import Any

# rule-overridable sections (logtrics.go:85-96)
OVERRIDABLE = {"graphite", "logging", "expression"}
# forbidden at rule level (logtrics.go:98-99)
FORBIDDEN = {"scriptfile", "scriptdir", "mode", "tcp", "udp"}

DEFAULTS: dict[str, Any] = {
    "graphite": {
        # reference default flush interval 30s (cmd/logtrics/main.go:59)
        "interval": 30,
        "tiers": ["1m", "5m", "1h", "1d"],
        "debug": False,
        # daemon live-store housekeeping: compact superseded snapshot
        # versions every N flushes (0 = only via Daemon.compact()/CLI)
        "compact_every": 0,
    },
    "logging": {"level": "info", "console": True},
    "expression": None,
    "buffer": {"size": 0},  # app.go:54 / main.go:43
}


class ConfigError(ValueError):
    pass


# reference Configuration struct fields (config/config.go:23-59) — the
# accepted top-level TOML surface; unknown top-level keys error like the
# rule-level merge does
TOML_TOP_KEYS = {
    "modes",
    "expression",
    "scriptfile",
    "scriptdir",
    "buffersize",
    "graphite",
    "udp",
    "tcp",
    "logging",
    # engine-side extension tables (not in the reference's surface):
    # mergeable sketch tiers for the daemon store (plans/daemon.py)
    "sketches",
    # cron-scheduled housekeeping (plans/schedule.py — the reference's
    # TODO.md:6 "Scheduler APIs" item): job name -> cron string
    "schedule",
    # Prometheus exposition (sinks/prometheus.py — the reference's
    # TODO.md:4 "Prometheus APIs" item): textfile/port/host/prefix
    "prometheus",
}
VALID_MODES = {"console", "udp", "tcp", "file"}  # + our filetail (S4)
VALID_LOG_LEVELS = {"fatal", "error", "warn", "info", "debug", "trace"}


def load_toml(path: str) -> dict[str, Any]:
    """Load a reference-shaped config.toml over the engine DEFAULTS.

    Accepts exactly the reference's TOML surface
    (examples/config.toml + config/config.go:23-59): top-level
    modes/expression/scriptfile/scriptdir/buffersize, and the
    graphite/udp/tcp/logging tables.  Sections merge key-by-key over
    DEFAULTS (so our engine-side graphite keys — tiers, compact_every —
    keep their defaults next to the reference's host/port/interval/debug).  Unknown top-level keys and invalid
    modes/log levels raise ConfigError, mirroring the reference's
    strict rule-level merge.
    """
    import tomllib

    with open(path, "rb") as fh:
        raw = tomllib.load(fh)
    unknown = set(raw) - TOML_TOP_KEYS
    if unknown:
        raise ConfigError(f"unknown config keys: {sorted(unknown)}")
    conf = copy.deepcopy(DEFAULTS)
    for key, value in raw.items():
        if key == "buffersize":
            conf["buffer"]["size"] = int(value)
        elif isinstance(value, dict):
            conf.setdefault(key, {})
            conf[key].update(value)
        else:
            conf[key] = value
    modes = conf.get("modes") or []
    bad = set(modes) - VALID_MODES
    if bad:
        raise ConfigError(f"invalid modes {sorted(bad)}; choices {sorted(VALID_MODES)}")
    level = conf.get("logging", {}).get("level")
    if level is not None and level not in VALID_LOG_LEVELS:
        raise ConfigError(
            f"invalid logging level {level!r}; choices {sorted(VALID_LOG_LEVELS)}"
        )
    return conf


@dataclass
class EngineConfig:
    conf: dict[str, Any] = field(default_factory=lambda: copy.deepcopy(DEFAULTS))

    def merged(self, overrides: dict[str, Any] | None) -> dict[str, Any]:
        """Deep-copied global conf with a rule's overrides applied.

        Mirrors mergeConfig (logtrics.go:71-105): forbidden keys error,
        unknown keys error, only OVERRIDABLE sections change.
        """
        out = copy.deepcopy(self.conf)
        if not overrides:
            return out
        for key, value in overrides.items():
            if key in FORBIDDEN:
                raise ConfigError(
                    f"config {key!r} can not be overridden at rule level"
                )
            if key not in OVERRIDABLE:
                raise ConfigError(f"invalid config key {key!r} at rule level")
            if isinstance(value, dict) and isinstance(out.get(key), dict):
                out[key].update(value)
            else:
                out[key] = value
        return out
