{{ config(materialized='incremental', unique_key='business_id') }}
SELECT business_id,
       COUNT(*) AS n_reviews,
       CAST(CAST(SUM(CAST(stars AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS stars_sum,
       MAX(date) AS last_review_date
FROM {{ ref('bronze_review') }}
{% if is_incremental() %}
WHERE date > (SELECT MAX(last_review_date) FROM {{ this }})
{% endif %}
GROUP BY business_id
