"""otel_tail_sampler_spark — a PySpark-native tail-sampling telemetry pipeline.

A from-scratch re-expression of the capabilities of kikokikok/otel-tail-sampler
(reference at /root/reference, Rust) as a bounded, resumable Spark DataFrame job:

    read tokenized spans (Iceberg/parquet)
      -> JVM expression parse (operators.parser.parse_spans_jvm)
      -> two-phase trace assembly on the int64 trace key, salted on request
         (operators.assembly)
      -> policy decisions as column expressions (operators.policies, force_rules)
      -> route to keep/drop/overflow/malformed sinks + metric tables
         (operators.routing, plans.pipeline)

plus the analytics queries (plans.analytics), span compression
(operators.compression), and a training-data operator suite (dedup, similarity,
text analysis, multimodal kernels).

Everything is public-API PySpark, DataFrame/Catalyst first: the batch
sampling job runs no Python stage. Arrow/pandas kernels run only where
expressions cannot do the work: the reference Arrow parser
(operators.parser.parse_spans), the streaming per-trace state, and
training-data operators.
"""

__version__ = "0.1.0"

SPAN_SERVICES = [
    "api-gateway",
    "user-service",
    "order-service",
    "payment-service",
    "inventory-service",
    "notification-service",
    "analytics-service",
    "search-service",
]

SPAN_OPERATIONS = [
    "HTTP GET /api/v1/users",
    "HTTP POST /api/v1/orders",
    "HTTP GET /api/v1/products",
    "grpc.UserService/GetUser",
    "grpc.OrderService/CreateOrder",
    "postgresql.query",
    "redis.get",
    "kafka.produce",
    "s3.GetObject",
    "http.client.request",
]
