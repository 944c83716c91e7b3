{{ config(materialized='table') }}
SELECT b.state, b.city,
       COUNT(*) AS n_reviews,
       COUNT(DISTINCT r.user_id) AS n_users,
       CAST(CAST(SUM(CAST(r.stars AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
         / COUNT(*) AS avg_stars
FROM {{ ref('bronze_review') }} r
JOIN {{ ref('all_business') }} b ON r.business_id = b.business_id
GROUP BY b.state, b.city
