{{ config(materialized='table') }}
SELECT user_id, business_id, text, date, compliment_count
FROM {{ source('yelp', 'tip') }}
