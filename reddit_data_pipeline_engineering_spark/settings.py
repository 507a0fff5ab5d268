"""Config-file surface: sectioned INI + environment overrides.

Mirrors the reference's configuration story (``utils/constants.py``):
a ``configparser`` file with section/key getters and fallbacks (:7-20,
:172-180), plus an environment-variable mode for containerized runs (the
reference's Lambda path skips the file when ``PIPELINE_ENV`` is set,
:14-20). The engine folds both into one precedence chain:

    env var RDPE_<SECTION>_<KEY>  >  config file  >  no value

for the three keys the pipeline CLI reads (``pipeline.main``):
``[file_paths] input_path``, ``[file_paths] output_path`` and
``[catalog] table``. Command-line flags beat all three. Extraction is
configured through the ``openaq`` source's options
(``sources/datasource.py``), not here.
"""

from __future__ import annotations

import configparser
import os
from collections.abc import Mapping

ENV_PREFIX = "RDPE"


class Settings:
    """Section/key lookup with env override (see module doc)."""

    def __init__(
        self,
        parser: configparser.ConfigParser | None = None,
        env: Mapping[str, str] | None = None,
    ):
        self._parser = parser or configparser.ConfigParser()
        self._env = os.environ if env is None else env

    def get(self, section: str, key: str, fallback: str | None = None):
        env_key = f"{ENV_PREFIX}_{section.upper()}_{key.upper()}"
        if env_key in self._env:
            return self._env[env_key]
        return self._parser.get(section, key, fallback=fallback)

    # ---- typed views over the keys pipeline.main reads ---------------

    @property
    def input_path(self) -> str | None:
        # reference file_paths section (utils/constants.py:66-67)
        return self.get("file_paths", "input_path", fallback=None)

    @property
    def output_path(self) -> str | None:
        return self.get("file_paths", "output_path", fallback=None)

    @property
    def table(self) -> str | None:
        return self.get("catalog", "table", fallback=None)


def load_settings(
    path: str | None = None, env: Mapping[str, str] | None = None
) -> Settings:
    """Load settings from an INI file (optional) + environment.

    A missing explicit ``path`` raises (misconfiguration should be loud —
    the reference does the same for its config file, constants.py:17-19);
    ``path=None`` means env-and-defaults only.
    """
    parser = configparser.ConfigParser()
    if path is not None:
        if not os.path.exists(path):
            raise FileNotFoundError(f"Configuration file not found: {path}")
        parser.read(path)
    return Settings(parser, env)
