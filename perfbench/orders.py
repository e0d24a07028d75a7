"""Seeded generator of Walmart-shaped order JSON (``order_etl.ORDER_SCHEMA``).

Each order is one JSON line. About 1% of lines are malformed and about
0.5% lack ``purchaseOrderId``. Customers follow a Zipf-like skew. Order
times (``orderDate``, epoch ms) are on a simulated clock: ``event_ms(t)``
for an order due at offset ``t`` seconds, minus up to ``JITTER_S`` of
disorder; about 0.5% of orders are ``LATE_S`` late, far beyond the
watermark of the windowed statistics query.
"""

from __future__ import annotations

import json
import random

EPOCH_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
JITTER_S = 5.0
LATE_S = 600.0
STATES = ["CA", "TX", "NY", "FL", "WA", "IL", "PA", "OH", "GA", "NC"]
CARRIERS = ["FedEx", "UPS", "USPS", "OnTrac"]
PRODUCTS = ["Tea Kettle", "Desk Lamp", "USB Cable", "Water Bottle",
            "Notebook", "Backpack", "Phone Case", "Coffee Beans"]
N_CUSTOMERS = 5000


def _customer(rng: random.Random) -> int:
    # Pareto-distributed rank: a few customers place most orders.
    return min(int(rng.paretovariate(1.2)) - 1, N_CUSTOMERS - 1)


def order(rng: random.Random, seq: int, due_s: float) -> str:
    """One order line due at simulated offset ``due_s`` seconds."""
    late = rng.random() < 0.005
    lag_s = LATE_S if late else rng.uniform(0.0, JITTER_S)
    order_ms = EPOCH_MS + int((due_s - lag_s) * 1000)
    cust = _customer(rng)
    lines = []
    for ln in range(1, rng.randint(1, 4) + 1):
        price = round(rng.uniform(1.0, 250.0), 2)
        qty = rng.randint(1, 5)
        lines.append({
            "lineNumber": str(ln),
            "item": {"productName": rng.choice(PRODUCTS),
                     "sku": f"SKU-{rng.randint(1, 500):04d}",
                     "condition": "New"},
            "charges": {"charge": [{
                "chargeType": "PRODUCT", "chargeName": "ItemPrice",
                "chargeAmount": {"currency": "USD", "amount": round(price * qty, 2)},
                "tax": {"taxName": "Tax1",
                        "taxAmount": {"currency": "USD",
                                      "amount": round(price * qty * 0.08, 2)}},
            }]},
            "orderLineQuantity": {"unitOfMeasurement": "EACH", "amount": str(qty)},
            "statusDate": order_ms + 60_000,
            "orderLineStatuses": {"orderLineStatus": [{
                "status": rng.choice(["Created", "Acknowledged", "Shipped"]),
                "statusQuantity": {"unitOfMeasurement": "EACH", "amount": str(qty)},
                "trackingInfo": {"shipDateTime": order_ms + 86_400_000,
                                 "carrierName": {"carrier": rng.choice(CARRIERS)},
                                 "methodCode": "Standard",
                                 "trackingNumber": f"TN{seq:010d}{ln}"},
            }]},
            "fulfillment": {"fulfillmentOption": "S2H", "shipMethod": "STANDARD"},
        })
    state = STATES[min(int(rng.expovariate(0.35)), len(STATES) - 1)]
    doc = {
        "purchaseOrderId": f"PO{seq:012d}",
        "customerOrderId": f"CO{cust:08d}-{seq}",
        "customerEmailId": f"customer{cust}@example.com",
        "orderDate": order_ms,
        "shippingInfo": {
            "phone": f"555{rng.randint(0, 9_999_999):07d}",
            "estimatedDeliveryDate": order_ms + 5 * 86_400_000,
            "estimatedShipDate": order_ms + 86_400_000,
            "methodCode": "Standard",
            "postalAddress": {"name": f"Customer {cust}",
                              "address1": f"{rng.randint(1, 9999)} Main St",
                              "address2": None, "city": f"City{rng.randint(0, 99)}",
                              "state": state,
                              "postalCode": f"{rng.randint(10000, 99999)}",
                              "country": "USA", "addressType": "RESIDENTIAL"},
            "carrierMethodName": "Standard Ship",
        },
        "orderLines": {"orderLine": lines},
        "shipNode": {"type": "SellerFulfilled", "name": "Node",
                     "id": str(rng.randint(1, 20))},
        "request_time": str(order_ms),
    }
    kind = rng.random()
    if kind < 0.005:
        del doc["purchaseOrderId"]
    text = json.dumps(doc, separators=(",", ":"))
    if 0.005 <= kind < 0.015:
        text = text[: rng.randint(10, len(text) - 10)]  # truncated record
    return text


def file_lines(seed: int, file_no: int, n: int, due_s: float) -> list[str]:
    """The ``n`` order lines of file ``file_no`` (same seed → same lines)."""
    rng = random.Random(seed * 1_000_003 + file_no)
    return [order(rng, file_no * n + k, due_s) for k in range(n)]
