"""HTTP client behind the ``openaq`` Data Source (reference S1/S2).

A small requests-based client with the reference's behaviors
(``lambda_functions/openaq_fetcher/extract_api.py``):

- header auth dict (``connect_openaq`` :21-31);
- 30 s request timeout (``utils/constants.py:160``);
- page loop contract: a page fetch returns the ``results`` list, empty
  list ends pagination (:79-94);
- measurement flattening to {sensor_id, datetime, value, parameter,
  unit} rows from the nested period/parameter structs (:240-258);
- per-sensor fault isolation: a failing sensor yields no rows instead of
  failing the batch (:216-267).

Engine-grade additions the reference lacks: 429-aware backoff honoring
``Retry-After`` (exponential fallback), bounded retries on 5xx, and an
injectable transport + sleep so tests run against fakes with no network.
The page loop and the per-sensor loop run in ``sources/datasource.py``'s
readers — this module only supplies the two fetch callables they call.
"""

from __future__ import annotations

from collections.abc import Callable

# (status_code, parsed_json_body, headers) — the minimal response triple
# the client needs; a transport is (url, params, headers, timeout) -> it.
Transport = Callable[[str, dict, dict, float], tuple[int, dict, dict]]

DEFAULT_BASE_URL = "https://api.openaq.org/v3"
DEFAULT_TIMEOUT_S = 30.0  # utils/constants.py:160 API_REQUEST_TIMEOUT
RETRYABLE_STATUSES = frozenset({429, 500, 502, 503, 504})


def requests_transport(
    url: str, params: dict, headers: dict, timeout: float
) -> tuple[int, dict, dict]:
    """The default transport: one GET via ``requests``."""
    import requests

    resp = requests.get(url, params=params, headers=headers, timeout=timeout)
    try:
        body = resp.json()
    except ValueError:
        body = {}
    return resp.status_code, body, dict(resp.headers)


class ApiError(RuntimeError):
    """Non-retryable (or retry-exhausted) API failure."""

    def __init__(self, status: int, url: str):
        super().__init__(f"API request failed with status {status}: {url}")
        self.status = status
        self.url = url


class OpenAQClient:
    """Requests-based client producing the Data Source's fetch callables.

    ``transport`` and ``sleep`` are injectable for tests (fake transport,
    no real waiting); production uses the defaults.
    """

    def __init__(
        self,
        api_key: str,
        base_url: str = DEFAULT_BASE_URL,
        timeout_s: float = DEFAULT_TIMEOUT_S,
        max_retries: int = 3,
        backoff_base_s: float = 1.0,
        transport: Transport = requests_transport,
        sleep: Callable[[float], None] | None = None,
    ):
        import time

        self.base_url = base_url.rstrip("/")
        self.headers = {"X-API-Key": api_key}  # extract_api.py:21-31
        self.timeout_s = timeout_s
        self.max_retries = max_retries
        self.backoff_base_s = backoff_base_s
        self.transport = transport
        self.sleep = sleep if sleep is not None else time.sleep

    def _get(self, url: str, params: dict) -> dict:
        """GET with bounded retry: 429 honors Retry-After, 5xx backs off
        exponentially, anything else non-200 raises immediately."""
        attempt = 0
        while True:
            status, body, headers = self.transport(
                url, params, self.headers, self.timeout_s
            )
            if status == 200:
                return body
            if status in RETRYABLE_STATUSES and attempt < self.max_retries:
                delay = self.backoff_base_s * (2.0**attempt)
                if status == 429:
                    ra = headers.get("Retry-After")
                    try:
                        delay = max(delay, float(ra)) if ra else delay
                    except ValueError:
                        pass
                self.sleep(delay)
                attempt += 1
                continue
            raise ApiError(status, url)

    def locations_page_fetcher(self, countries_id: int = 56):
        """``(page, page_size) -> list[dict]``: one API page of location
        dicts; [] ends pagination (extract_api.py:66-94)."""

        def fetch(page: int, page_size: int) -> list[dict]:
            body = self._get(
                f"{self.base_url}/locations",
                {
                    "countries_id": countries_id,
                    "limit": page_size,
                    "page": page,
                },
            )
            return body.get("results", [])

        return fetch

    def measurements_fetcher(self):
        """``(sensor_id, date_from, date_to, limit) -> list[dict]``: one
        sensor's time-ranged rows flattened to the long format
        (extract_api.py:240-258); a failing sensor returns [] so the
        batch continues (:216-267)."""

        def fetch(
            sensor_id: int, date_from: str, date_to: str, limit: int
        ) -> list[dict]:
            try:
                body = self._get(
                    f"{self.base_url}/sensors/{sensor_id}/measurements",
                    {
                        "datetime_from": date_from,
                        "datetime_to": date_to,
                        "limit": limit,
                    },
                )
            except ApiError:
                return []
            rows = []
            for m in body.get("results", []):
                period = m.get("period") or {}
                dt_from = period.get("datetimeFrom")
                dt = (
                    dt_from.get("utc")
                    if isinstance(dt_from, dict)
                    else dt_from
                )
                param = m.get("parameter") or {}
                rows.append(
                    {
                        "sensor_id": sensor_id,
                        "datetime": dt,
                        "value": m.get("value"),
                        "parameter": param.get("name"),
                        "unit": param.get("units"),
                    }
                )
            return rows

        return fetch
