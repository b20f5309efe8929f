-- Gold analytical tables (reference gold/02_create_materialized_views.sql
-- declares 7 matviews; here they are external parquet tables refreshed by
-- recompute + atomic swap, sources/resilience.refresh_views). Each layer's
-- tables are written concurrently, with a barrier between layers: all 7
-- views refresh side by side once silver is in place. Explicit output
-- schemas - DDL is the contract, data arrives later.
CREATE TABLE IF NOT EXISTS gold.g1_daily_engagement_summary (
    full_date DATE,
    year INT,
    month INT,
    day_name STRING,
    is_weekend BOOLEAN,
    total_events BIGINT,
    unique_users BIGINT,
    total_value DOUBLE,
    avg_value DOUBLE,
    max_value DOUBLE,
    purchase_count BIGINT,
    error_count BIGINT,
    high_value_events BIGINT,
    purchase_pct DOUBLE,
    top_event_type STRING
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g1_daily_engagement_summary';

CREATE TABLE IF NOT EXISTS gold.g2_top_performing_content (
    event_id BIGINT,
    event_type STRING,
    value DOUBLE,
    content_preview STRING,
    content_lang STRING,
    account_name STRING,
    engagement_rate DOUBLE,
    engagement_rank INT
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g2_top_performing_content';

CREATE TABLE IF NOT EXISTS gold.g3_account_influence (
    account_id BIGINT,
    account_name STRING,
    segment STRING,
    nation_name STRING,
    influence_tier STRING,
    total_events BIGINT,
    distinct_event_types BIGINT,
    total_value DOUBLE,
    avg_value DOUBLE,
    purchases BIGINT,
    purchase_pct DOUBLE
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g3_account_influence';

CREATE TABLE IF NOT EXISTS gold.g4_hashtag_performance (
    tag STRING,
    total_mentions BIGINT,
    unique_docs BIGINT,
    unique_sources BIGINT,
    avg_doc_chars DOUBLE
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g4_hashtag_performance';

CREATE TABLE IF NOT EXISTS gold.g5_hourly_posting_patterns (
    hour INT,
    day_name STRING,
    is_weekend BOOLEAN,
    event_count BIGINT,
    avg_value DOUBLE,
    total_value DOUBLE,
    engagement_rank INT
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g5_hourly_posting_patterns';

CREATE TABLE IF NOT EXISTS gold.g6_daily_event_trends (
    event_date DATE,
    event_type STRING,
    event_count BIGINT,
    unique_users BIGINT,
    total_value DOUBLE,
    avg_value DOUBLE,
    prev_day_count BIGINT,
    pct_change DOUBLE
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g6_daily_event_trends';

CREATE TABLE IF NOT EXISTS gold.g7_viral_content (
    event_id BIGINT,
    event_type STRING,
    user_id BIGINT,
    value DOUBLE,
    k_value DOUBLE,
    hours_since_post DOUBLE,
    total_engagement DOUBLE,
    virality_score DOUBLE
) USING PARQUET
LOCATION '${OUT_DIR}/gold/g7_viral_content';
