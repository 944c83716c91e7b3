{{ config(materialized='view') }}
SELECT business_id, city, state, stars FROM {{ ref('bronze_business') }}
UNION ALL
SELECT business_id, city, state, stars FROM {{ ref('bronze_business_extra') }}
