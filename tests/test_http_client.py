"""Default HTTP client tests: fake transport, no network.

Covers the reference behaviors (extract_api.py): page-loop contract,
measurement flattening, per-sensor fault isolation — plus the engine
additions (429 Retry-After backoff, bounded 5xx retries).
"""

import pytest

from reddit_data_pipeline_engineering_spark.sources.http_client import (
    ApiError,
    OpenAQClient,
)
from tests.test_api_source import LOCS


class FakeTransport:
    """Scripted (status, body, headers) responses; records every call."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []

    def __call__(self, url, params, headers, timeout):
        self.calls.append({"url": url, "params": dict(params),
                           "headers": dict(headers), "timeout": timeout})
        if len(self.responses) > 1:
            return self.responses.pop(0)
        return self.responses[0]


def make_client(transport, **kw):
    sleeps = []
    client = OpenAQClient(
        api_key="k", transport=transport, sleep=sleeps.append,
        backoff_base_s=1.0, **kw,
    )
    return client, sleeps


def test_page_fetcher_params_and_auth():
    tr = FakeTransport([(200, {"results": LOCS}, {})])
    client, _ = make_client(tr)
    fetch = client.locations_page_fetcher(countries_id=56)
    assert fetch(3, 100) == LOCS
    call = tr.calls[0]
    assert call["url"].endswith("/locations")
    assert call["params"] == {"countries_id": 56, "limit": 100, "page": 3}
    assert call["headers"] == {"X-API-Key": "k"}  # extract_api.py:21-31
    assert call["timeout"] == 30.0  # constants.py:160


def test_429_honors_retry_after_then_succeeds():
    tr = FakeTransport([
        (429, {}, {"Retry-After": "7"}),
        (200, {"results": []}, {}),
    ])
    client, sleeps = make_client(tr)
    assert client.locations_page_fetcher()(1, 100) == []
    assert sleeps == [7.0]  # Retry-After beats the 1s backoff base


def test_5xx_backs_off_exponentially_then_raises():
    tr = FakeTransport([(503, {}, {})])
    client, sleeps = make_client(tr, max_retries=3)
    with pytest.raises(ApiError) as ei:
        client.locations_page_fetcher()(1, 100)
    assert ei.value.status == 503
    assert sleeps == [1.0, 2.0, 4.0]  # bounded exponential


def test_4xx_raises_immediately_no_retry():
    tr = FakeTransport([(401, {}, {})])
    client, sleeps = make_client(tr)
    with pytest.raises(ApiError):
        client.locations_page_fetcher()(1, 100)
    assert sleeps == [] and len(tr.calls) == 1


def test_measurements_flatten_and_fault_isolation():
    nested = {
        "results": [
            {
                "period": {"datetimeFrom": {"utc": "2025-01-15T01:00:00Z"}},
                "parameter": {"name": "pm25", "units": "µg/m³"},
                "value": 12.5,
            },
            {   # datetimeFrom as a plain string (extract_api.py:243-245)
                "period": {"datetimeFrom": "2025-01-15T02:00:00Z"},
                "parameter": {"name": "pm25", "units": "µg/m³"},
                "value": 13.0,
            },
        ]
    }
    tr = FakeTransport([(200, nested, {}), (500, {}, {})])
    client, _ = make_client(tr, max_retries=0)
    fetch = client.measurements_fetcher()
    rows = fetch(7, "2025-01-15T00:00:00Z", "2025-01-16T00:00:00Z", 1000)
    assert rows == [
        {"sensor_id": 7, "datetime": "2025-01-15T01:00:00Z", "value": 12.5,
         "parameter": "pm25", "unit": "µg/m³"},
        {"sensor_id": 7, "datetime": "2025-01-15T02:00:00Z", "value": 13.0,
         "parameter": "pm25", "unit": "µg/m³"},
    ]
    assert tr.calls[0]["params"] == {
        "datetime_from": "2025-01-15T00:00:00Z",
        "datetime_to": "2025-01-16T00:00:00Z",
        "limit": 1000,
    }
    # A failing sensor yields [] — the batch continues (:216-267).
    assert fetch(8, "a", "b", 10) == []
